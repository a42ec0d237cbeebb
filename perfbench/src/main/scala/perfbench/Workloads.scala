package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.functions.TextOps
import graft.jobs.{AactQueries, EventQueries, PipelineQueries, RelationalQueries}
import graft.operators.{ArtifactManifest, Dedup, PostingsManifest, Similarity}
import graft.sources.{SnapshotIngest, WarehouseWriter}

/** One workload: inputs built from the seed, a measured unit, and the
  * untimed checks of the unit's outputs. */
abstract class Workload(val spark: SparkSession, val t: Tracer,
    val work: String, val seed: Long) {
  var attempted = 0
  var failed = 0
  val problems = mutable.ListBuffer.empty[String]

  /** Build the inputs from the seed. Called several times; each call
    * starts from nothing. */
  def setup(rep: Int): Unit
  /** One-time set-up after the inputs exist, part of `setup_s`. */
  def prepare(): Unit = ()
  /** One measured unit; returns the input bytes it processed. */
  def unit(u: Int): Long
  /** Untimed checks of unit `u`'s outputs. */
  def check(u: Int): Unit = ()
  /** Untimed work after the last unit, before the run reports. */
  def finish(): Unit = ()
  /** Per-layer numbers only the workload knows, after the last unit. */
  def layerExtras(): Map[String, Double] = Map.empty
  /** A digest of the generated inputs: equal seeds, equal digests. */
  def inputDigest: String
  def details: Seq[(String, String)] = Seq.empty

  protected def attempt[A](body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        problems += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  protected def problem(msg: String, failedOps: Int): Unit = {
    failed += failedOps
    problems += msg
  }
}

object Workload {
  def digest(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  def dirDigest(dir: String): String = {
    val p = Paths.get(dir)
    val s = Files.walk(p)
    try {
      val files = s.filter(Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).sortBy(_.toString)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.foreach { f =>
        md.update(p.relativize(f).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(f))
      }
      md.digest().take(8).map("%02x".format(_)).mkString
    } finally s.close()
  }
}

// ============================================================== bi_mix

/** The read-only query mix: every relational, event, AACT and pipeline
  * query once per pass, in name order, its result collected to the
  * client as a dashboard would fetch it. A pass is timed from a cold
  * JVM, like the first refresh of a new dashboard session. The order is
  * fixed: the first queries of a cold pass pay most of its JIT and class
  * loading, and a seeded order would move that cost from query to query
  * between runs. After the last pass the collected results are written
  * to parquet, untimed, for the DuckDB oracle. The tables are made from
  * the seed by `genTables` (gen_tables.py) at scale factor `sf`. */
final class BiMix(spark: SparkSession, t: Tracer, work: String, seed: Long,
    genTables: String, sf: Double) extends Workload(spark, t, work, seed) {

  private val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("jobs.relational" -> RelationalQueries.queries,
      "jobs.events" -> EventQueries.queries, "jobs.aact" -> AactQueries.queries,
      "jobs.pipeline" -> PipelineQueries.queries)
  private val queries = families.flatMap { case (fam, qs) =>
    qs.toSeq.map { case (name, fn) => (name, fam, fn) }
  }.sortBy(_._1)
  val tables = s"$work/tables"
  val oracleDir = s"$work/oracle"
  val attempts = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val results = mutable.Map.empty[String, (StructType, Array[Row])]
  private var tableBytes = 0L

  def setup(rep: Int): Unit = {
    Gen.deleteTree(Paths.get(tables))
    val p = new ProcessBuilder("python3", genTables, tables, seed.toString, sf.toString)
      .inheritIO().start()
    if (p.waitFor() != 0) throw new IllegalStateException("gen_tables.py failed")
  }

  override def prepare(): Unit = {
    Tables.validate(spark, tables)
    tableBytes = Gen.treeBytes(Paths.get(tables))
  }

  def unit(u: Int): Long = {
    queries.foreach { case (name, fam, fn) =>
      attempts(name) += 1
      results -= name
      attempt(t.op(name, fam) {
        val df = fn(spark, tables)
        results(name) = (df.schema, df.collect())
      })
      spark.catalog.clearCache()
    }
    tableBytes
  }

  /** The last pass's results, for the oracle; a query that failed in
    * it is missing there, and run.py counts it failed. */
  override def finish(): Unit = {
    // Each write is a small job whose time is mostly the job and commit
    // floor, so a few run at once.
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(results.toSeq) { case (name, (schema, rows)) =>
      Future(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(s"$oracleDir/$name"))
    }, Duration.Inf)
    finally pool.shutdown()
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$oracleDir/oracle_sql.json"),
      Json.obj(queries.map { case (name, _, _) => name -> Json.str(sql(name)) }))
  }

  def inputDigest: String = Workload.dirDigest(tables)

  override def details: Seq[(String, String)] = Seq(
    "oracle_dir" -> Json.str(oracleDir), "tables_dir" -> Json.str(tables),
    "query_attempts" -> Json.obj(attempts.toSeq.sorted.map { case (k, v) =>
      k -> v.toString }))
}

// ======================================================= curation_cycle

/** The README's monthly cycle, twice per unit: month 1 builds the
  * artifacts, month 2 screens against them and rolls them forward. The
  * artifacts are the exact-hash index and its bloom, the minhash band
  * index, the eval set's winnow index, the training shards, and an IVF
  * postings index over the documents' embeddings, which month 2 also
  * serves top-10 requests from before and after compacting it. A unit
  * starts from empty directories, in a JVM that has run nothing else:
  * a monthly batch job pays its own cold start. */
final class Curation(spark: SparkSession, t: Tracer, work: String,
    seed: Long, n1: Int, n2: Int, nEval1: Int, nEval2: Int, cells: Int,
    probes: Int, recallFloor: Double) extends Workload(spark, t, work, seed) {
  import spark.implicits._

  private val dumps = s"$work/dumps"
  private var truth: Gen.CurationTruth = _
  private var vecs: Gen.Vectors = _
  private val docSpec = SnapshotIngest.TableSpec("documents",
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))
  private val evalSpec = SnapshotIngest.TableSpec("eval",
    org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
  private val (shingleK, numHashes, bands, nearThreshold) = (5, 64, 16, 0.7)
  private val (winnowK, winnowW) = (5, 4)
  private val queriesPerServe = 8
  private var checkedIndexes = false
  private var storedBytes = 0L
  private var lastServe: (Seq[Long], Array[Row]) = (Nil, Array.empty)
  private val recalls = mutable.ArrayBuffer.empty[Double]

  /** Dumps plus one 64-d embedding per document of either month, as an
    * upstream embedding model would ship them (vec_id = doc_id). */
  def setup(rep: Int): Unit = {
    Gen.deleteTree(Paths.get(dumps))
    truth = Gen.curationDumps(dumps, seed, n1, n2, nEval1, nEval2)
    vecs = new Gen.Vectors(seed)
    vecs.draw(n1 + n2)
  }

  private def inputBytes: Long = truth.dumpBytes + (n1 + n2).toLong * vecs.dim * 4

  private def dir(u: Int) = s"$work/cycle$u"

  def unit(u: Int): Long = {
    cycle(dir(u))
    inputBytes
  }

  private def split(df: DataFrame): DataFrame = df.withColumn("split",
    when(pmod(xxhash64($"doc_id"), lit(100)) < 90, "train")
      .when(pmod(xxhash64($"doc_id"), lit(100)) < 95, "val").otherwise("test"))

  private def scrub(snap: String, out: String): Unit =
    spark.read.parquet(s"$snap/documents.parquet")
      .withColumn("text", TextOps.cleanText(TextOps.redactPii($"text")))
      .write.mode("overwrite").parquet(out)

  /** IVF cells: fixed centroids drawn from the month-1 embeddings, the
    * way the declared postings lifecycles (q78–q83) fix theirs. */
  private lazy val cents: Array[Array[Double]] =
    (0 until cells).map(i => vecs.vecs(i * (n1 / cells)).map(_.toDouble)).toArray

  private def cycle(c: String): Unit = {
    val (exact, bloom, minhash, winnow, shards, ivf) =
      (s"$c/exact_index", s"$c/exact_bloom", s"$c/minhash_index",
        s"$c/winnow_index", s"$c/shards", s"$c/ivf_postings")
    def stage(name: String, span: String)(body: => Unit): Unit =
      if (attempt(t.op(name, span)(body)).isEmpty)
        throw new IllegalStateException(s"stage $name failed")
    def ingest(month: String): Unit = {
      val rows = SnapshotIngest.ingest(spark, s"$dumps/$month", s"$c/$month/snap",
        Seq(docSpec, evalSpec))
      t.count("sources.ingest_rows", rows.values.sum.toDouble)
    }
    def serve(name: String): Unit = stage(name, "similarity.serve") {
      val qs = vecs.sample(queriesPerServe, corpus)
      val rows = Similarity.ivfTopKFromPostingsWithCentroids(vecs.frame(spark, qs),
        cents, Similarity.readPostings(spark, ivf), probes, 10).collect()
      lastServe = (qs.map(vecs.ids(_)), rows)
      t.count("similarity.serve_results", rows.length.toDouble)
    }
    // embeddings of month 1, and of month 2's documents that survive
    val month2Emb = vecs.frame(spark, n1 until n1 + n2)
    try {
      // ---------------------------------------------------- month 1
      stage("m1_ingest", "sources.ingest")(ingest("month1"))
      stage("m1_scrub", "functions.scrub")(scrub(s"$c/month1/snap", s"$c/month1/clean"))
      val clean1 = spark.read.parquet(s"$c/month1/clean")
      stage("m1_exact_build", "dedup.index_build")(
        Dedup.saveExactIndex(Dedup.exactHashIndex(clean1), exact))
      stage("m1_bloom_build", "dedup.index_build")(
        Dedup.exactIndexBloom(Dedup.readExactIndex(spark, exact),
          expectedItems = 4L * (n1 + n2)).write.mode("overwrite").parquet(bloom))
      stage("m1_minhash_build", "dedup.index_build")(Dedup.saveMinhashIndex(
        Dedup.minhashBandIndex(clean1, shingleK, numHashes, bands), minhash))
      stage("m1_winnow_build", "dedup.index_build")(Dedup.saveWinnowIndex(
        Dedup.winnowIndex(spark.read.parquet(s"$c/month1/snap/eval.parquet"),
          winnowK, winnowW), winnow))
      stage("m1_ivf_build", "similarity.build")(Similarity.saveIvfPostings(
        Similarity.ivfPostingsWithCentroids(vecs.frame(spark, 0 until n1), cents), ivf))
      corpus = 0 until n1
      stage("m1_shard_write", "sources.shard_write")(
        split(clean1.select($"doc_id", $"text", $"lang", $"source"))
          .write.mode("overwrite").parquet(shards))
      // ---------------------------------------------------- month 2
      stage("m2_ingest", "sources.ingest")(ingest("month2"))
      stage("m2_scrub", "functions.scrub")(scrub(s"$c/month2/snap", s"$c/month2/clean"))
      stage("m2_exact_screen", "dedup.exact_screen")(
        Dedup.dedupAgainstIndexScreened(spark.read.parquet(s"$c/month2/clean"),
          Dedup.readExactIndex(spark, exact), spark.read.parquet(bloom))
          .write.mode("overwrite").parquet(s"$c/month2/novel"))
      stage("m2_neardup_screen", "dedup.neardup_screen") {
        val novel = spark.read.parquet(s"$c/month2/novel")
        val drops = Dedup.nearDupAgainstArtifact(spark, minhash, novel, nearThreshold)
          .select($"doc_b".as("doc_id")).distinct()
        novel.join(drops, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$c/month2/kept")
      }
      val kept = spark.read.parquet(s"$c/month2/kept")
      stage("m2_decontam", "dedup.decontam")(
        Dedup.contaminationAgainstArtifact(spark, winnow, kept)
          .select($"new_id".as("doc_id")).distinct()
          .write.mode("overwrite").parquet(s"$c/month2/flagged"))
      val flagged = spark.read.parquet(s"$c/month2/flagged")
      val final2 = kept.join(flagged, Seq("doc_id"), "left_anti")
      stage("m2_shard_write", "sources.shard_write")(
        split(final2.select($"doc_id", $"text", $"lang", $"source"))
          .write.mode("append").parquet(shards))
      stage("m2_exact_append", "dedup.index_append")(
        Dedup.appendExactIndexDelta(spark, exact, final2))
      stage("m2_bloom_append", "dedup.index_append")(
        Dedup.appendToExactBloom(spark.read.parquet(bloom), final2)
          .write.mode("overwrite").parquet(bloom))
      stage("m2_minhash_append", "dedup.index_append")(
        Dedup.appendMinhashIndexDelta(spark, minhash, final2))
      stage("m2_winnow_append", "dedup.index_append")(Dedup.appendWinnowIndexDelta(
        spark, winnow, spark.read.parquet(s"$c/month2/snap/eval.parquet")))
      stage("m2_ivf_append", "similarity.append")(Similarity.appendIvfPostingsAuto(
        spark, ivf, cents, month2Emb.join(
          final2.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")))
      corpus = (0 until n1) ++ truth.kept.toSeq.sorted.map(_.toInt)
      serve("m2_serve_fragmented")
      if (t.isTracing) t.span("manifest.report")(debt(Seq(exact, minhash, winnow), ivf))
      stage("m2_exact_compact", "dedup.index_compact")(Dedup.compactExactIndex(spark, exact))
      stage("m2_minhash_compact", "dedup.index_compact")(
        Dedup.compactMinhashIndex(spark, minhash))
      stage("m2_winnow_compact", "dedup.index_compact")(
        Dedup.compactWinnowIndex(spark, winnow))
      stage("m2_ivf_compact", "similarity.compact")(
        Similarity.compactIvfPostingsRetained(spark, ivf))
      stage("m2_ivf_vacuum", "similarity.vacuum")(Similarity.vacuumPostings(spark, ivf))
      stage("m2_shard_compact", "sources.compact")(
        WarehouseWriter.compactParquet(spark, shards, sortCol = Some("doc_id")))
      serve("m2_serve_compacted")
    } catch {
      case _: IllegalStateException => () // counted by `stage`
    } finally spark.catalog.clearCache()
  }

  /** Positions of the vectors in the serving corpus so far. */
  private var corpus: Seq[Int] = Nil

  /** Live files, outstanding log deltas and retired (tombstoned) bytes
    * of every artifact that keeps a manifest. */
  private def debt(flat: Seq[String], postings: String): Unit = {
    val states = flat.flatMap(p => ArtifactManifest.familyOf(spark, p)
      .flatMap(f => ArtifactManifest.readClean(spark, p, f)))
    val ps = PostingsManifest.readClean(spark, postings)
    t.count("manifest.live_files",
      (states.map(_.totalFiles).sum + ps.fold(0)(_.totalFiles)).toDouble)
    t.count("manifest.log_deltas",
      (states.map(_.logDeltas).sum + ps.fold(0)(_.logDeltas)).toDouble)
    t.count("manifest.retired_bytes",
      ps.fold(0L)(_.files.filter(_.retired).map(_.bytes).sum).toDouble)
  }

  override def check(u: Int): Unit = {
    val c = dir(u)
    if (!Files.exists(Paths.get(s"$c/shards"))) return
    if (t.units.last.traced) {
      def rows(p: String) = spark.read.parquet(s"$c/month2/$p").count().toDouble
      val (clean2, novel, kept) = (rows("clean"), rows("novel"), rows("kept"))
      t.count("dedup.exact_kept_ratio", novel / clean2)
      t.count("dedup.neardup_kept_ratio", kept / novel)
      t.count("dedup.decontam_flagged", rows("flagged"))
    }
    val shards = spark.read.parquet(s"$c/shards")
    val got = shards.filter($"doc_id" >= n1).select($"doc_id").as[Long]
      .collect().toSet
    if (got != truth.kept)
      problem(s"cycle $u: month-2 kept ${got.size} docs, planted truth " +
        s"${truth.kept.size} (missing ${(truth.kept -- got).size}, " +
        s"extra ${(got -- truth.kept).size})", 1)
    // recall@10 of the last serve against exact brute force
    val (qids, rows) = lastServe
    val exactTop = Similarity.bruteForceTopK(vecs.frame(spark, corpus),
      col("vec_id").isin(qids: _*), 10)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (served & exactTop).size.toDouble / math.max(1, exactTop.size)
    recalls += recall
    if (recall < recallFloor)
      problem(f"cycle $u: recall@10 $recall%.4f below the pinned $recallFloor", 1)
    if (!checkedIndexes) {
      checkedIndexes = true
      val docs = shards.select($"doc_id", $"text")
      val evalDocs = spark.read.parquet(s"$c/month1/snap/eval.parquet")
        .unionByName(spark.read.parquet(s"$c/month2/snap/eval.parquet"))
      def same(name: String, got: DataFrame, want: DataFrame): Unit = {
        val cols = want.columns.sorted.map(col)
        val (g, w) = (got.select(cols: _*), want.select(cols: _*))
        if (!g.exceptAll(w).isEmpty || !w.exceptAll(g).isEmpty)
          problem(s"cycle $u: compacted $name differs from a rebuild", 1)
      }
      same("exact index", Dedup.readExactIndex(spark, s"$c/exact_index"),
        Dedup.exactHashIndex(docs))
      same("minhash index", Dedup.readMinhashIndex(spark, s"$c/minhash_index"),
        Dedup.minhashBandIndex(docs, shingleK, numHashes, bands))
      same("winnow index", Dedup.readWinnowIndex(spark, s"$c/winnow_index"),
        Dedup.winnowIndex(evalDocs, winnowK, winnowW))
      same("ivf postings",
        Similarity.readPostings(spark, s"$c/ivf_postings").select("cell", "cand_id", "d2"),
        Similarity.ivfPostingsWithCentroids(vecs.frame(spark, corpus), cents)
          .select("cell", "cand_id", "d2"))
    }
    spark.catalog.clearCache()
    storedBytes = Seq("exact_index", "exact_bloom", "minhash_index",
      "winnow_index", "shards", "ivf_postings")
      .map(a => Gen.treeBytes(Paths.get(s"$c/$a"))).sum
    Gen.deleteTree(Paths.get(c))
  }

  private def recallAt10: Double =
    if (recalls.isEmpty) 0.0 else Stats.median(recalls.toSeq)

  override def layerExtras(): Map[String, Double] = Map(
    "similarity.recall_at_10" -> recallAt10,
    "similarity.rows_read_per_result" ->
      t.recordsReadUnder("similarity.serve") /
        math.max(1.0, t.countTotal("similarity.serve_results")),
    "manifest.stored_bytes_per_input_byte" -> storedBytes.toDouble / inputBytes)

  def inputDigest: String = Workload.dirDigest(dumps) +
    Workload.digest(vecs.vecs.take(64).map(_.mkString(",")).mkString(";"))

  override def details: Seq[(String, String)] = Seq(
    "planted" -> Json.obj(Seq("month2_docs" -> n2.toString,
      "kept" -> truth.kept.size.toString,
      "exact_copies" -> truth.exactCopies.toString,
      "near_dups" -> truth.nearDups.toString,
      "contaminated" -> truth.contaminated.toString)),
    "recall_at_10" -> Json.num(recallAt10),
    "recall_floor" -> Json.num(recallFloor),
    "stored_bytes_per_input_byte" -> Json.num(storedBytes.toDouble / inputBytes))
}
