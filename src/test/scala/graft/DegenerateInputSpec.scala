package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.DocumentQueries
import graft.operators.{Dedup, Similarity}

/** Degenerate-input behavior: empty corpora, single rows, null text.
  * At pipeline scale these are not hypotheticals — a partition filter
  * that matches nothing, a source whose first snapshot is empty, a
  * crawler row with a null payload — and an operator that throws (or
  * silently mis-counts) on them takes the whole job down. Contract:
  * empty in → empty out, null text behaves as an empty document, no
  * exceptions anywhere.
  */
class DegenerateInputSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Stage a documents fixture dir (same shape as the testdata). */
  private def stageDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("graft_degen").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val emptyDir = stageDocs(Seq.empty)
  private lazy val oneDocDir = stageDocs(Seq((7L, "just one document here", "en", "s0")))
  private lazy val nullTextDir = stageDocs(Seq(
    (1L, "real text with several tokens inside it", "en", "s0"),
    (2L, null, "en", "s0"),
    (3L, "", "en", "s0")))

  test("document queries return empty (not throw) on an empty corpus") {
    for (name <- Seq("q17_dedup_exact", "q20_ngram_jaccard", "q21_minhash_lsh",
      "q22_simhash", "q36_winnow_fingerprints", "q45_quality_keep",
      "q46_token_chunks", "q49_hash_split", "q53_repetition",
      "q54_source_mix", "q56_tfidf_topk", "q57_source_overlap",
      "q63_exact_index_screen", "q64_epoch_shuffle",
      "q65_bigram_surprise", "q66_eval_sample", "q69_text_clean",
      "q73_token_budget", "q74_quality_keep")) {
      val n = SparkEntry.queries(name)(spark, emptyDir).count()
      assert(n == 0L, s"$name returned $n rows on an empty corpus")
    }
  }

  test("pair-producing dedup is empty on a single-document corpus") {
    for (name <- Seq("q20_ngram_jaccard", "q21_minhash_lsh", "q22_simhash",
      "q57_source_overlap")) {
      assert(SparkEntry.queries(name)(spark, oneDocDir).count() == 0L,
        s"$name invented a pair from one document")
    }
  }

  test("null and empty text behave as empty documents, not errors") {
    // the real doc survives every per-doc query; null/empty rows either
    // drop out (token queries) or carry zero counts — never throw
    val fp = DocumentQueries.queries("q36_winnow_fingerprints")(spark, nullTextDir)
    assert(fp.filter($"doc_id" === 1L).count() > 0)
    assert(fp.filter($"doc_id" =!= 1L).count() == 0)
    val tfidf = DocumentQueries.queries("q56_tfidf_topk")(spark, nullTextDir)
    assert(tfidf.select($"doc_id").distinct().count() == 1)
    // token-based per-doc scorers CONTRACT: docs with no tokenizable
    // text drop out of the report (a keep-policy would drop them
    // anyway); they must not crash the query or corrupt other rows
    val rep = DocumentQueries.queries("q53_repetition")(spark, nullTextDir)
    assert(rep.count() == 1)
    assert(rep.select($"doc_id").as[Long].head() == 1L)
  }

  test("index screens handle empty batches and degenerate corpora") {
    val docs = Tables.load(spark, sf0001, "documents")
    val emptyBatch = docs.limit(0)
    // empty BATCH against a real index: empty result, no exception
    val mhIdx = Dedup.minhashBandIndex(docs, 5, 32, 8)
    assert(Dedup.nearDupAgainstIndex(emptyBatch, mhIdx, 0.4).count() == 0L)
    val wfIdx = Dedup.winnowIndex(docs, k = 3, w = 4, algo = "md5_60")
    assert(Dedup.contaminationAgainstIndex(emptyBatch, wfIdx).count() == 0L)
    assert(Dedup.dedupAgainstIndex(emptyBatch,
      Dedup.exactHashIndex(docs)).count() == 0L)
    // null/empty-text batch rows behave as empty documents (drop out of
    // the shingle-based screens, exact screen keeps them as content)
    val degenerate = Seq((900L, null.asInstanceOf[String], "en", "s0"),
      (901L, "", "en", "s0")).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text"))
    assert(Dedup.nearDupAgainstIndex(degenerate, mhIdx, 0.4).count() == 0L)
    assert(Dedup.contaminationAgainstIndex(degenerate, wfIdx).count() == 0L)
  }

  test("an empty corpus builds legal empty minhash and winnow artifacts, " +
      "even over a live one, that screen nothing and take appends") {
    val docs = Tables.load(spark, sf0001, "documents")
    val empty = docs.limit(0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b").collect().map(_.toSeq).toSet

    // the params ride the plan, so the build needs no head row: the
    // rebuild replaces the live artifact instead of throwing after it
    val mh = tempDir("graft_degen_mh").resolve("index").toString
    Dedup.saveMinhashIndex(Dedup.minhashBandIndex(docs, 5, 32, 8), mh)
    Dedup.saveMinhashIndex(Dedup.minhashBandIndex(empty, 5, 32, 8), mh)
    assert(Dedup.readMinhashIndex(spark, mh).count() == 0L)
    // no corpus side: the screen reports only the batch's own pairs
    assert(pairs(Dedup.nearDupAgainstArtifact(spark, mh, batch, 0.4)) ==
      pairs(Dedup.minhashLsh(batch, 5, 32, 8, 0.4)))
    Dedup.appendMinhashIndexDelta(spark, mh, batch)
    assert(Dedup.readMinhashIndex(spark, mh).count() ==
      Dedup.minhashBandIndex(batch, 5, 32, 8).count())

    val wn = tempDir("graft_degen_wn").resolve("index").toString
    Dedup.saveWinnowIndex(Dedup.winnowIndex(docs, 3, 4, "md5_60"), wn)
    Dedup.saveWinnowIndex(Dedup.winnowIndex(empty, 3, 4, "md5_60"), wn)
    assert(Dedup.readWinnowIndex(spark, wn).count() == 0L)
    assert(Dedup.contaminationAgainstArtifact(spark, wn, docs).count() == 0L)
    Dedup.appendWinnowIndexDelta(spark, wn, batch)
    assert(Dedup.readWinnowIndex(spark, wn).count() ==
      Dedup.winnowIndex(batch, 3, 4, "md5_60").count())
  }

  test("two identical null-doc_id rows in a minhash artifact compact to " +
      "one, as a whole-index distinct folds them") {
    val docs = Tables.load(spark, sf0001, "documents")
    val orphan = docs.limit(1).select(lit(null).cast("long").as("doc_id"),
      $"text")
    val mh = tempDir("graft_degen_mh_null").resolve("index").toString
    Dedup.saveMinhashIndex(Dedup.minhashBandIndex(
      docs.filter($"doc_id" < 40).select($"doc_id", $"text")
        .unionByName(orphan), 5, 32, 8), mh)
    Dedup.appendMinhashIndexDelta(spark, mh, orphan) // a replayed orphan
    def orphans = Dedup.readMinhashIndex(spark, mh)
      .filter($"doc_id".isNull).count()
    assert(orphans == 2L)
    // the pre-pass's doc_id window holds both null-id rows as one key, so
    // they take the distinct path, which folds them
    val (_, extra, missing) =
      DedupSpec.compactAgainstDistinct(spark, mh, files = 2)
    assert((extra, missing) == ((0L, 0L)))
    assert(orphans == 1L)
  }

  test("the legal empty minhash artifact compacts to a legal empty artifact") {
    val docs = Tables.load(spark, sf0001, "documents")
    val batch = docs.filter($"doc_id" % 5 === 0)
    val mh = tempDir("graft_degen_mh_compact").resolve("index").toString
    Dedup.saveMinhashIndex(Dedup.minhashBandIndex(docs.limit(0), 5, 32, 8), mh)
    assert(DedupSpec.compactAgainstDistinct(spark, mh, files = 2) ==
      ((0L, 0L, 0L)))
    assert(graft.operators.ArtifactManifest
      .readClean(spark, mh, "minhash_band_index").exists(_.totalRows == 0L))
    // still an artifact: its params serve appends
    Dedup.appendMinhashIndexDelta(spark, mh, batch)
    assert(Dedup.readMinhashIndex(spark, mh).count() ==
      Dedup.minhashBandIndex(batch, 5, 32, 8).count())
  }

  test("bloom-screened exact dedup: empty and null-text batches, both routes") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val index = Dedup.exactHashIndex(docs)
    val bloom = Dedup.exactIndexBloom(index, expectedItems = 1000)
    // empty batch: In(empty) folds the index leg away entirely
    assert(Dedup.dedupAgainstIndexScreened(docs.limit(0), index, bloom)
      .count() == 0L)
    assert(Dedup.dedupAgainstIndexScreened(docs.limit(0), index, bloom,
      inListLimit = 0).count() == 0L)
    // null/empty text: md5(null) is null — null hashes can never match
    // an index row, so both rows keep (as dedupAgainstIndex does); the
    // screened path must agree on BOTH routes
    val degenerate = Seq((900L, null.asInstanceOf[String]), (901L, ""))
      .toDF("doc_id", "text")
    val want = Dedup.dedupAgainstIndex(degenerate, index)
      .collect().map(_.toSeq).toSet
    assert(Dedup.dedupAgainstIndexScreened(degenerate, index, bloom)
      .collect().map(_.toSeq).toSet == want)
    assert(Dedup.dedupAgainstIndexScreened(degenerate, index, bloom,
      inListLimit = 0).collect().map(_.toSeq).toSet == want)
  }

  test("compactParquet no-ops on a directory with no data files") {
    val dir = tempDir("graft_degen_compact").toString
    assert(graft.sources.WarehouseWriter.compactParquet(spark, dir)
      == ((0, 0, 0L)))
  }

  test("q59/q61 return empty (not throw) on empty inputs") {
    // empty documents corpus → zero packs
    assert(DocumentQueries.queries("q61_sequence_packing")(spark, emptyDir)
      .count() == 0L)
    // events table with no view/click rows → outer attribution is empty
    val dir = tempDir("graft_degen_ev").toString
    Seq.empty[(Long, Long, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(SparkEntry.queries("q59_attributed_outer")(spark, dir)
      .count() == 0L)
    // no events at all → no hours to score, not a window error
    assert(SparkEntry.queries("q68_ingest_anomaly")(spark, dir)
      .count() == 0L)
  }

  test("dedup clustering of an empty pair list is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dedupClusters(empty).count() == 0L)
    assert(Dedup.dedupClustersStar(empty).count() == 0L)
  }

  test("similarity search over an empty embeddings table is empty") {
    val empty = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.bruteForceTopK(empty, lit(true), k = 5).count() == 0L)
    assert(Similarity.blockedNearest(empty, Seq(0, 1)).count() == 0L)
  }

  test("an empty postings rebuild fails before it touches the live artifact") {
    import graft.operators.CoarseQuantizer.Flat
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 8, seed = 42L,
      trainFraction = 0.5)
    val path = tempDir("graft_degen_postings").resolve("postings").toString
    Similarity.saveIvfPostings(Similarity.ivfPostings(emb, Flat(model)), path)
    def rows() = Similarity.readPostings(spark, path)
      .select($"cell", $"cand_id", $"d2").as[(Int, Long, Double)]
      .collect().toSet
    val before = rows()
    val ex = intercept[IllegalArgumentException] {
      Similarity.saveIvfPostings(
        Similarity.ivfPostings(emb.limit(0), Flat(model)), path)
    }
    assert(ex.getMessage.contains("no postings data"), ex.getMessage)
    assert(rows() == before && before.nonEmpty,
      "the failed rebuild must leave the previous artifact serving")
    assert(graft.operators.PostingsManifest.readClean(spark, path).nonEmpty,
      "the previous artifact keeps its clean manifest")
  }
}
