package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf0001, "documents").cache()

  test("exact dedup finds planted exact duplicates") {
    val planted = docs.limit(3)
      .union(docs.limit(3)) // duplicate 3 docs with new ids
      .withColumn("doc_id", monotonically_increasing_id())
    val groups = Dedup.exact(planted)
    assert(groups.count() == 3)
    assert(groups.filter($"n_copies" === 2).count() == 3)
  }

  test("ngram jaccard finds the planted near-duplicate pairs") {
    val pairs = Dedup.ngramJaccard(docs, k = 5, threshold = 0.4).collect()
    assert(pairs.nonEmpty, "expected planted near-dup pairs at sf0.001")
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.4))
  }

  test("exactCandidateMass is the hand-computed pair fan, cap-aware") {
    // 3 copies of one 6-token text → 2 distinct 5-gram shingles, each
    // df=3 → mass = 2 × (3·2/2) = 6; capping at maxDF=2 excludes both
    val tri = Seq((0L, "a b c d e f"), (1L, "a b c d e f"),
      (2L, "a b c d e f")).toDF("doc_id", "text")
    assert(Dedup.exactCandidateMass(tri, k = 5, maxDF = 100) == 6L)
    assert(Dedup.exactCandidateMass(tri, k = 5, maxDF = 2) == 0L)
  }

  test("nearDupAuto routes by the probed candidate mass, both regimes") {
    // below the budget: the exact route, with ngramJaccard's own pairs
    val routed = Dedup.nearDupAuto(docs, k = 5, threshold = 0.4, maxDF = 100)
    assert(routed.route == "exact" && routed.candidateMass > 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(routed.pairs) ==
      pairs(Dedup.ngramJaccard(docs, k = 5, threshold = 0.4, maxDF = 100)))
    // over the budget (forced with a zero budget): the LSH route, with
    // minhashLsh's own pairs, and the SAME probe value either way
    val big = Dedup.nearDupAuto(docs, k = 5, threshold = 0.4, maxDF = 100,
      exactPairBudget = 0L)
    assert(big.route == "lsh")
    assert(big.candidateMass == routed.candidateMass)
    assert(pairs(big.pairs) ==
      pairs(Dedup.minhashLsh(docs, k = 5, numHashes = 32, bands = 8,
        threshold = 0.4)))
  }

  test("minhash LSH recovers the exact-jaccard pairs at threshold 0.6") {
    val exact = Dedup.ngramJaccard(docs, k = 5, threshold = 0.6)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, k = 5, numHashes = 32, bands = 8, threshold = 0.6)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // LSH verification step filters to true jaccard >= threshold, so the
    // result must equal the exact set restricted to candidates; with 8
    // bands × 4 rows, pairs at jaccard ≥ 0.9 are near-certain candidates.
    assert(exact.subsetOf(lsh), s"missed: ${exact.diff(lsh)}")
    assert(lsh.subsetOf(exact), s"extra: ${lsh.diff(exact)}")
  }

  /** Brute-force pair set at the given hamming cap. */
  private def simhashTruth(maxHamming: Int): Set[(Long, Long)] = {
    val fp = Dedup.simhashFingerprints(docs).cache()
    val a = fp.select($"doc_id".as("doc_a"), $"simhash".as("ha"))
    val b = fp.select($"doc_id".as("doc_b"), $"simhash".as("hb"))
    a.crossJoin(b)
      .filter($"doc_a" < $"doc_b" &&
        bit_count($"ha".bitwiseXOR($"hb")) <= maxHamming)
      .select($"doc_a", $"doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("simhash 4x16 banding finds EXACTLY the pairs at hamming <= 3") {
    val truth = simhashTruth(3)
    val banded = Dedup.simhashDup(docs, maxHamming = 3)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "expected some simhash near-dups at sf0.001")
    assert(banded == truth,
      s"missed: ${truth.diff(banded)}; extra: ${banded.diff(truth)}")
  }

  test("simhash 8x8 banding finds EXACTLY the pairs at hamming <= 7") {
    val truth = simhashTruth(7)
    val banded = Dedup.simhashDup(docs, maxHamming = 7, bands = 8)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(banded == truth,
      s"missed: ${truth.diff(banded)}; extra: ${banded.diff(truth)}")
  }

  test("simhash maxBucket: non-binding cap equals brute force; binding cap drops only all-bands-hot pairs") {
    // a non-binding cap changes nothing (the declared q22 posture at
    // fixture scales)
    val truth = simhashTruth(3)
    val capped = Dedup.simhashDup(docs, maxHamming = 3, maxBucket = 100000)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == truth, "a cap larger than every bucket must not bind")

    // planted hot bucket: 40 identical docs share ALL FOUR band values
    // (identical simhash), so at cap 30 every bucket any hot pair
    // shares is over the cap → all hot-hot pairs drop; a distinct
    // near-dup pair living in small buckets survives untouched
    val hot = (0L until 40L).map(i => (i, "alpha beta gamma delta epsilon"))
    // identical text → hamming 0, and a band-bucket of exactly 2
    val rare = Seq(
      (100L, "one two three four five six seven"),
      (101L, "one two three four five six seven"))
    val planted = (hot ++ rare).toDF("doc_id", "text")
    val uncapped = Dedup.simhashDup(planted, maxHamming = 3)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((100L, 101L)))
    assert(uncapped.count { case (a, b) => a < 40 && b < 40 } == 40 * 39 / 2,
      "identical docs are pairwise hamming-0")
    val hotCapped = Dedup.simhashDup(planted, maxHamming = 3, maxBucket = 30)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!hotCapped.exists { case (a, b) => a < 40 && b < 40 },
      "every band the hot pairs share is over the cap → dropped")
    assert(hotCapped.contains((100L, 101L)),
      "pairs with any under-cap shared band survive")
  }

  test("simhash rejects a hamming cap the banding cannot guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashDup(docs, maxHamming = 7, bands = 4)
    }
  }

  test("md5-60-bit simhash variant (q22's portable path) matches its own truth") {
    import graft.functions.TextOps.md5Hash60
    val fp = Dedup.simhashFingerprints(docs, bits = 60, algo = "md5_60")
      .cache()
    val a = fp.select($"doc_id".as("doc_a"), $"simhash".as("ha"))
    val b = fp.select($"doc_id".as("doc_b"), $"simhash".as("hb"))
    val truth = a.crossJoin(b)
      .filter($"doc_a" < $"doc_b" && bit_count($"ha".bitwiseXOR($"hb")) <= 3)
      .select($"doc_a", $"doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashDup(docs, maxHamming = 3, bands = 4, bits = 60,
      algo = "md5_60")
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fingerprints must stay inside 60 bits (positive longs)
    assert(fp.filter($"simhash" < 0 || $"simhash" >= (1L << 60)).count() == 0)
    assert(banded == truth,
      s"missed: ${truth.diff(banded)}; extra: ${banded.diff(truth)}")
  }

  test("ngram maxDF prune: exact values, bounded candidates on skewed data") {
    // 30 docs sharing one degenerate stop-phrase prefix + 2 planted
    // near-dups: the stop shingles alone would fan 30×29/2 candidate
    // pairs; with the cap only the near-dup pair survives discovery
    val stop = "the quick brown fox jumps over dog"
    val skewed = ((1 to 30).map(i =>
      (i.toLong, s"$stop unique$i token$i word$i extra$i more$i")) ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    val unpruned = Dedup.ngramJaccard(skewed, k = 5, threshold = 0.3)
    val pruned = Dedup.ngramJaccard(skewed, k = 5, threshold = 0.3, maxDF = 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b", $"jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the planted pair survives with an IDENTICAL jaccard value (full
    // shingle sets verify), the stop-phrase-only pairs are dropped by
    // discovery in the pruned variant and by threshold in the unpruned
    assert(pairs(pruned).contains((100L, 101L, 0.6)))
    assert(pairs(pruned) == pairs(unpruned).filter(_._1 >= 100L))
  }

  test("ngram maxDF prune is a no-op on the organic sf0.001 corpus") {
    val a = Dedup.ngramJaccard(docs, k = 5, threshold = 0.4)
      .collect().map(_.toSeq).toSet
    val b = Dedup.ngramJaccard(docs, k = 5, threshold = 0.4, maxDF = 100)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("winnowing: docs sharing a >= w+k-1 token passage share a fingerprint") {
    import graft.operators.Dedup
    // k=3, w=4 -> any common run of >= 6 tokens guarantees one shared
    // fingerprint (a full identical hash window exists in both docs);
    // the planted passage is 10 tokens inside otherwise-disjoint text
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"one two three four five $passage six seven eight"),
      (2L, s"red orange yellow green $passage blue indigo violet"),
      (3L, "totally unrelated content with no overlap at all whatsoever here")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, k = 3, w = 4)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (d, rows) => d -> rows.map(_._2).toSet }
    assert((fp(1L) intersect fp(2L)).nonEmpty,
      "shared passage produced no shared fingerprint")
    assert((fp(1L) intersect fp(3L)).isEmpty,
      "disjoint docs share a fingerprint (hash collision or bug)")
    // selection actually thins the index: fewer fingerprints than k-grams
    val allGrams = docs.select(explode(
      graft.functions.TextOps.shingles(
        graft.functions.TextOps.tokens($"text"), 3))).distinct().count()
    assert(fp.values.map(_.size).sum < allGrams)
  }

  test("dedupClusters: components resolve across multi-hop chains, min id keeps") {
    // a 7-node chain (needs several propagation rounds), a 2-node pair,
    // and a triangle — labels must reach the component min everywhere
    val chain = (0L until 6L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L), (200L, 201L), (201L, 202L), (200L, 202L)))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs)
      .as[(Long, Long, Boolean)].collect()
      .map { case (d, c, k) => d -> ((c, k)) }.toMap
    (0L to 6L).foreach(d => assert(got(d) == ((0L, d == 0L)), s"chain node $d"))
    assert(got(100L) == ((100L, true)) && got(101L) == ((100L, false)))
    Seq(200L, 201L, 202L).foreach(d =>
      assert(got(d) == ((200L, d == 200L)), s"triangle node $d"))
    // exactly one keeper per component
    val keepers = got.values.groupBy(_._1).map { case (c, vs) =>
      c -> vs.count(_._2)
    }
    assert(keepers.values.forall(_ == 1), s"keeper counts: $keepers")
  }

  test("star contraction equals min-label propagation on mixed components") {
    val chain = (0L until 6L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L), (200L, 201L), (201L, 202L),
      (200L, 202L), (301L, 300L), // reversed pair: canonicalization path
      (400L, 400L)))              // self-pair: node must still get a row
      .toDF("doc_a", "doc_b")
    val viaLabels = Dedup.dedupClusters(pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    val viaStars = Dedup.dedupClustersStar(pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viaStars == viaLabels,
      s"star diff: ${viaStars.diff(viaLabels)} / ${viaLabels.diff(viaStars)}")
  }

  test("star contraction equals min-label on the organic near-dup graph") {
    val pairs = Dedup.ngramJaccard(docs, k = 5, threshold = 0.4)
      .select($"doc_a", $"doc_b")
    val viaLabels = Dedup.dedupClusters(pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    val viaStars = Dedup.dedupClustersStar(pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viaLabels.nonEmpty)
    assert(viaStars == viaLabels)
  }

  test("star contraction equals min-label on seeded random graphs") {
    val rnd = new scala.util.Random(20260812L)
    (1 to 3).foreach { trial =>
      // sparse G(n, m): disconnected fragments, chains, and cliques mix
      val n = 60 + rnd.nextInt(80)
      val m = n / 2 + rnd.nextInt(n)
      val pairs = Seq.fill(m) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
      val viaLabels = Dedup.dedupClusters(pairs)
        .as[(Long, Long, Boolean)].collect().toSet
      val viaStars = Dedup.dedupClustersStar(pairs)
        .as[(Long, Long, Boolean)].collect().toSet
      assert(viaStars == viaLabels,
        s"trial $trial (n=$n m=$m): star ${viaStars.diff(viaLabels)} / " +
          s"labels ${viaLabels.diff(viaStars)}")
    }
  }

  test("star contraction resolves a 512-node chain in O(log n) rounds") {
    // the adversarial shape: diameter 511, so min-label would need ~511
    // shuffle rounds; the star alternation must land the whole chain on
    // component 0 within the 16-round budget (log2(512) = 9 + slack)
    val pairs = (0L until 511L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClustersStar(pairs, maxRounds = 16)
      .as[(Long, Long, Boolean)].collect()
    assert(got.length == 512)
    assert(got.forall(_._2 == 0L), "every chain node must label to 0")
    assert(got.count(_._3) == 1 && got.find(_._3).get._1 == 0L)
  }

  test("dedupClusters auto-falls-back to star contraction on a 512-node chain") {
    // diameter 511: min-label alone needs ~511 rounds, so with
    // fallbackAfter=8 a correct answer is only reachable via the
    // contraction fallback — the labels after 8 truncated rounds are NOT
    // the component minima, so a green assertion here proves the quotient
    // graph was built and star contraction finished the job in O(log n)
    val pairs = (0L until 511L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs, fallbackAfter = 8, checkEvery = 2,
        maxStarRounds = 16)
      .as[(Long, Long, Boolean)].collect()
    assert(got.length == 512)
    assert(got.forall(_._2 == 0L), "every chain node must label to 0")
    assert(got.count(_._3) == 1 && got.find(_._3).get._1 == 0L)
  }

  test("dedupClusters reliable-checkpoint mode matches local-checkpoint mode") {
    // same graph, reliable=true routes every checkpoint through the
    // configured checkpoint dir instead of executor block storage —
    // results must be identical (the mode only changes fault tolerance)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val chain = (0L until 20L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L))).toDF("doc_a", "doc_b")
    val viaLocal = Dedup.dedupClusters(pairs, fallbackAfter = 4)
      .as[(Long, Long, Boolean)].collect().toSet
    val viaReliable = Dedup.dedupClusters(pairs, fallbackAfter = 4,
        reliable = true)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viaReliable == viaLocal)
  }

  test("incremental dedup against a persisted hash index across two ingest rounds") {
    import java.nio.file.Files
    val corpus = Seq(
      (1L, "the standing corpus document one"),
      (2L, "the standing corpus document two"),
      (3L, "the standing corpus document one")  // in-corpus dup
    ).toDF("doc_id", "text")
    // index round-trips through parquet — it is the persisted artifact
    val idxPath = Files.createTempDirectory("graft_dedup_idx").toString
    Dedup.exactHashIndex(corpus).write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)
    assert(index.count() == 2)

    val batch = Seq(
      (10L, "the standing corpus document two"),  // corpus dup -> drop
      (11L, "a brand new document"),              // keep (lowest id of its pair)
      (12L, "a brand new document"),              // within-batch dup -> drop
      (13L, "another novel document")             // keep
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstIndex(batch, index)
    assert(kept.select($"doc_id").as[Long].collect().toSet == Set(11L, 13L))
    assert(kept.columns.toSeq == batch.columns.toSeq,
      "kept rows must keep the batch schema (no helper columns leaked)")

    // round 2: update the index with what survived; a full replay of
    // everything seen so far must now dedup to nothing
    val index2 = index.union(Dedup.exactHashIndex(kept)).distinct()
    assert(index2.count() == 4)
    val replay = corpus.union(batch)
    assert(Dedup.dedupAgainstIndex(replay, index2).count() == 0)
  }

  test("exact-index artifact: delta appends ≡ rebuild, pruning survives, compaction restores") {
    import java.nio.file.Files
    val all = docs.select($"doc_id", $"text")
    val seed = all.filter($"doc_id" % 3 === 0)
    val b1 = all.filter($"doc_id" % 3 === 1)
    val b2 = all.filter($"doc_id" % 3 === 2)
    val path = Files.createTempDirectory("graft_exact_art")
      .resolve("index").toString
    Dedup.saveExactIndex(Dedup.exactHashIndex(seed), path, files = 2)

    // two ingest rounds + an at-least-once replay, each append ∝ batch;
    // every serve-time read goes through the MANIFEST-planned route
    // (zero listings — the sidecar the build wrote plans the scan)
    val k1 = Dedup.dedupAgainstIndex(b1, Dedup.readExactIndex(spark, path))
    Dedup.appendExactIndexDelta(spark, path, k1)
    val k2 = Dedup.dedupAgainstIndex(b2, Dedup.readExactIndex(spark, path))
    Dedup.appendExactIndexDelta(spark, path, k2)
    Dedup.appendExactIndexDelta(spark, path, k2) // replayed delta

    // the manifest read IS planned from the sidecar, matches the
    // discovering read exactly, and the sidecar equals directory truth
    val loaded = Dedup.readExactIndex(spark, path)
    assert(loaded.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"),
      "manifest-backed exact-index read must plan over ManifestFileIndex")
    spark.catalog.refreshByPath(path)
    assert(loaded.as[String].collect().sorted.toSeq ==
      spark.read.parquet(path).as[String].collect().sorted.toSeq,
      "manifest-planned read must equal the discovering read")
    val st = graft.operators.ArtifactManifest
      .readClean(spark, path, "exact_hash_index").get
    val fsTruth = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .map(f => (f.getPath.getName, f.getLen)).toSet
    }
    assert(st.files.map(e => (e.file, e.bytes)).toSet == fsTruth,
      "manifest must equal directory truth after appends")
    assert(st.totalRows == loaded.count(),
      "manifest footer row counts must sum to the artifact's rows")

    // delta-appended ≡ rebuilt (set semantics; the replay is physical)
    val rebuilt = Dedup.exactHashIndex(all).as[String].collect().toSet
    assert(loaded.distinct().as[String].collect().toSet == rebuilt,
      "appended artifact must hold exactly the rebuilt hash set")
    assert(loaded.count() > rebuilt.size,
      "precondition: the replayed delta left physical duplicates")

    // screens stay correct against the REPLAY-DUPLICATED artifact:
    // a mixed batch (all-dup texts + novel twins) keeps only the novel
    val novel = b2.withColumn("doc_id", $"doc_id" + 1000000L)
      .withColumn("text", concat($"text", lit(" NOVEL-TWIN")))
    val mixed = b2.unionByName(novel)
    val bloom = Dedup.exactIndexBloom(loaded, expectedItems = rebuilt.size)
    val keptScreened = Dedup.dedupAgainstIndexScreened(mixed, loaded, bloom)
      .select($"doc_id").as[Long].collect().toSet
    val keptPlain = Dedup.dedupAgainstIndex(mixed, loaded)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptScreened == keptPlain &&
      keptScreened == novel.select($"doc_id").as[Long].collect().toSet)

    // the IN predicate still reaches the scan after N appends — ON THE
    // MANIFEST-PLANNED read (the zero-listing route the screened dedup
    // takes), not just the discovering one
    val probes = loaded.distinct().orderBy($"text_hash")
      .as[String].collect().toIndexedSeq
    val probeSet = (0 until 4).map(i => probes(i * probes.length / 4))
    val plan = Dedup.readExactIndex(spark, path)
      .filter($"text_hash".isin(probeSet: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(text_hash") &&
      plan.contains("ManifestFileIndex"),
      s"IN must stay pushed into the manifest-planned scan after appends:\n$plan")
    // ...but each full-range delta file is a row-group CANDIDATE for
    // every probe — the observable erosion compaction exists to settle
    val census0 = hashRowGroupCandidates(path, probeSet)
    assert(census0 >= probeSet.size * 3,
      s"expected the delta-blurred layout to multi-match, census=$census0")

    // compaction: folds the replay, restores global zone-map pruning,
    // and re-adopts the manifest over the swapped directory
    val (nb, na, _) = Dedup.compactExactIndex(spark, path,
      targetFileBytes = 8L << 10)
    assert(nb > na, s"compaction must fold files: $nb -> $na")
    val compacted = Dedup.readExactIndex(spark, path)
    assert(compacted.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"),
      "post-compaction reads must plan from the re-adopted manifest")
    assert(compacted.count() == rebuilt.size,
      "compaction must fold the replayed delta's duplicates")
    assert(compacted.as[String].collect().toSet == rebuilt)
    assert(hashRowGroupCandidates(path, probeSet) == probeSet.size,
      "restored layout must match exactly one row group per probe")
    // and the artifact keeps ingesting after compaction
    val k3 = Dedup.dedupAgainstIndex(novel, compacted)
    Dedup.appendExactIndexDelta(spark, path, k3)
    assert(Dedup.readExactIndex(spark, path).distinct().count() ==
      rebuilt.size + k3.count())

    // a stranded dirty flag degrades to the discovering read (truth for
    // a flat add-only artifact), and compaction re-adopts the sidecar
    graft.operators.MaintenanceProtocol.markDirty(spark, path)
    val fallback = Dedup.readExactIndex(spark, path)
    assert(!fallback.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"),
      "a dirty sidecar must demote the read to discovery")
    assert(fallback.distinct().count() == rebuilt.size + k3.count())
    Dedup.compactExactIndex(spark, path)
    assert(Dedup.readExactIndex(spark, path)
      .queryExecution.executedPlan.toString.contains("ManifestFileIndex"),
      "compaction must clear the flag and re-adopt the manifest")
  }

  test("flat incremental log: append writes one delta ∝ batch, base untouched; folds; crash-idempotent") {
    import java.nio.file.Files
    import graft.operators.ArtifactManifest
    val all = docs.select($"doc_id", $"text")
    val seed = all.filter($"doc_id" % 3 === 0)
    val b1 = all.filter($"doc_id" % 3 === 1)
    val b2 = all.filter($"doc_id" % 3 === 2)
    val path = Files.createTempDirectory("graft_flat_log")
      .resolve("index").toString
    Dedup.saveExactIndex(Dedup.exactHashIndex(seed), path, files = 2)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = ArtifactManifest.manifestPath(path)
    val ld = ArtifactManifest.logDir(path)
    def deltaFiles = if (!f.exists(ld))
      Array.empty[org.apache.hadoop.fs.FileStatus]
    else f.listStatus(ld).filter(_.getPath.getName.startsWith("delta."))
    def deltaLines(s: org.apache.hadoop.fs.FileStatus): Vector[String] = {
      val in = f.open(s.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }
    def truthFiles = f.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(s => (s.getPath.getName, s.getLen)).toSet
    val baseLen = f.getFileStatus(mp).getLen
    val baseMod = f.getFileStatus(mp).getModificationTime
    assert(deltaFiles.isEmpty, "a fresh build carries no log")

    // an append writes ONE delta whose payload is exactly the batch's
    // own staged files — the base _manifest is never rewritten
    Dedup.appendExactIndexDelta(spark, path,
      Dedup.dedupAgainstIndex(b1, Dedup.readExactIndex(spark, path)))
    assert(f.getFileStatus(mp).getLen == baseLen &&
      f.getFileStatus(mp).getModificationTime == baseMod,
      "an append must not rewrite the base manifest")
    val d1 = deltaFiles
    assert(d1.length == 1, s"one append, one delta: ${d1.length}")
    val lines1 = deltaLines(d1.head)
    assert(lines1.count(_.startsWith("set\t")) == 1 &&
      lines1.count(_.startsWith("del\t")) == 0,
      s"delta payload must be the 1-file batch, got: $lines1")
    // replayed state == directory truth, and the planned read sees it
    val st1 = ArtifactManifest.readClean(spark, path,
      "exact_hash_index").get
    assert(st1.files.map(e => (e.file, e.bytes)).toSet == truthFiles,
      "replayed manifest must equal directory truth")
    assert(st1.logDeltas == 1)
    val loaded = Dedup.readExactIndex(spark, path)
    assert(loaded.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"))
    spark.catalog.refreshByPath(path)
    assert(loaded.count() == spark.read.parquet(path).count())

    // second append: second delta, base still untouched
    Dedup.appendExactIndexDelta(spark, path,
      Dedup.dedupAgainstIndex(b2, Dedup.readExactIndex(spark, path)))
    assert(deltaFiles.length == 2 &&
      f.getFileStatus(mp).getModificationTime == baseMod)

    // crash-idempotency: a fold that died between swapping the base
    // and clearing the log re-applies the stale delta harmlessly
    val stPre = ArtifactManifest.readClean(spark, path,
      "exact_hash_index").get
    val dv = deltaFiles.sortBy(_.getPath.getName).last
    val staleName = dv.getPath.getName
    val staleText = deltaLines(dv).mkString("", "\n", "\n")
    ArtifactManifest.write(spark, path, stPre) // fold: clears the log
    assert(deltaFiles.isEmpty, "a full write must clear the log")
    f.mkdirs(ld)
    val out = f.create(new org.apache.hadoop.fs.Path(ld, staleName), true)
    try out.write(staleText.getBytes("UTF-8")) finally out.close()
    val stReplayed = ArtifactManifest.readClean(spark, path,
      "exact_hash_index").get
    assert(stReplayed.files == stPre.files,
      "replaying an already-folded delta must be a no-op")

    // auto-fold at the threshold (synthetic commits — log mechanics
    // only; the artifact is rebuilt to truth afterwards). Fold first so
    // the loop starts from an empty log.
    ArtifactManifest.write(spark, path, stReplayed)
    var st = ArtifactManifest.readClean(spark, path,
      "exact_hash_index").get
    assert(st.logDeltas == 0)
    (1 until ArtifactManifest.FoldThreshold).foreach { i =>
      st = ArtifactManifest.commit(spark, path, st,
        st.adding(Seq(ArtifactManifest.FileEntry(s"part-synth-$i", 1L, 1L))))
    }
    assert(deltaFiles.length == ArtifactManifest.FoldThreshold - 1)
    st = ArtifactManifest.commit(spark, path, st,
      st.adding(Seq(ArtifactManifest.FileEntry("part-synth-fold", 1L, 1L))))
    assert(deltaFiles.isEmpty,
      "the threshold commit must fold instead of appending a delta")
    assert(st.logDeltas == 0 && ArtifactManifest.readClean(spark, path,
      "exact_hash_index").get.files == st.files)

    // compaction rebuild deletes the log and restores truth; the
    // declared lifecycle (q84) rides exactly this path
    Dedup.compactExactIndex(spark, path)
    assert(deltaFiles.isEmpty)
    val stFinal = ArtifactManifest.readClean(spark, path,
      "exact_hash_index").get
    assert(stFinal.files.map(e => (e.file, e.bytes)).toSet == truthFiles)
    assert(Dedup.readExactIndex(spark, path).as[String].collect().toSet ==
      Dedup.exactHashIndex(all).as[String].collect().toSet,
      "after the log-era lifecycle the artifact still equals the rebuild")
  }

  test("flatFragmentationReport: append debt visible per manifest read, compaction resets it") {
    import java.nio.file.Files
    import graft.operators.ArtifactManifest
    val all = docs.select($"doc_id", $"text")
    val seed = all.filter($"doc_id" % 3 === 0)
    val path = Files.createTempDirectory("graft_flat_frag")
      .resolve("index").toString
    Dedup.saveExactIndex(Dedup.exactHashIndex(seed), path, files = 2)
    def report = ArtifactManifest
      .flatFragmentationReport(spark, path, "exact_hash_index").head()
    val r0 = report
    assert(r0.getAs[Long]("files") == 2 &&
      r0.getAs[Long]("appended_files") == 0 &&
      r0.getAs[Long]("base_files") == 2 &&
      r0.getAs[Long]("log_deltas") == 0 &&
      r0.getAs[String]("manifest") == "clean", s"fresh build: $r0")

    // two delta appends: the debt is visible without any listing
    Dedup.appendExactIndexDelta(spark, path,
      Dedup.dedupAgainstIndex(all.filter($"doc_id" % 3 === 1),
        Dedup.readExactIndex(spark, path)))
    Dedup.appendExactIndexDelta(spark, path,
      Dedup.dedupAgainstIndex(all.filter($"doc_id" % 3 === 2),
        Dedup.readExactIndex(spark, path)))
    val r1 = report
    assert(r1.getAs[Long]("files") == 4 &&
      r1.getAs[Long]("appended_files") == 2 &&
      r1.getAs[Long]("log_deltas") == 2, s"after 2 appends: $r1")

    // a dirty sidecar IS the signal; numbers fall back to a rebuild
    // (which carries no base marker — appended reports unknown = -1)
    graft.operators.MaintenanceProtocol.markDirty(spark, path)
    val rd = report
    assert(rd.getAs[String]("manifest") == "dirty" &&
      rd.getAs[Long]("files") == 4 &&
      rd.getAs[Long]("appended_files") == -1, s"dirty: $rd")
    graft.operators.MaintenanceProtocol.clearDirty(spark, path)

    // compaction resets the baseline
    Dedup.compactExactIndex(spark, path)
    val rc = report
    assert(rc.getAs[Long]("appended_files") == 0 &&
      rc.getAs[Long]("base_files") == rc.getAs[Long]("files") &&
      rc.getAs[Long]("log_deltas") == 0 &&
      rc.getAs[String]("manifest") == "clean", s"post-compaction: $rc")
  }

  test("minhash/winnow compaction swap crash heals on the next read (recoverSwap)") {
    import java.nio.file.Files
    val seed = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)

    // minhash: simulate a crash inside overwriteParquetAtomic's
    // delete→install window — target dir absent, fully-committed
    // sibling tmp present — then read: must heal, not PATH_NOT_FOUND
    val mh = Files.createTempDirectory("graft_mh_swap")
      .resolve("index").toString
    Dedup.saveMinhashIndex(Dedup.minhashBandIndex(seed, 5, 32, 8), mh,
      files = 2)
    val expected = pairSet(Dedup.nearDupAgainstArtifact(spark, mh, batch, 0.4))
    val f = new org.apache.hadoop.fs.Path(mh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hMh = new org.apache.hadoop.fs.Path(mh)
    val tmp = new org.apache.hadoop.fs.Path(hMh.getParent,
      s".${hMh.getName}.swap-tmp")
    // stage the "new" contents exactly as the compaction does, then
    // crash before install: delete the target, leave the tmp
    spark.read.parquet(mh).write.parquet(tmp.toString)
    f.delete(hMh, true)
    assert(!f.exists(hMh))
    val healed = Dedup.readMinhashIndex(spark, mh)
    assert(f.exists(hMh), "the read must install the committed tmp")
    // the healed artifact is manifest-less (the sidecar died with the
    // old directory) — discovery serves truth, compaction re-adopts
    assert(pairSet(Dedup.nearDupAgainstArtifact(spark, mh, batch, 0.4))
      == expected)
    assert(healed.count() == seed.count())
    Dedup.compactMinhashIndex(spark, mh, files = 2)
    assert(Dedup.readMinhashIndex(spark, mh).queryExecution.executedPlan
      .toString.contains("ManifestFileIndex"),
      "compaction must re-adopt a manifest over the healed artifact")

    // winnow: same window, healed by the compaction entry point itself
    val wn = Files.createTempDirectory("graft_wn_swap")
      .resolve("index").toString
    Dedup.saveWinnowIndex(Dedup.winnowIndex(seed, 5, 4), wn, files = 2)
    val wnRows = Dedup.readWinnowIndex(spark, wn).count()
    val hWn = new org.apache.hadoop.fs.Path(wn)
    val wnTmp = new org.apache.hadoop.fs.Path(hWn.getParent,
      s".${hWn.getName}.swap-tmp")
    spark.read.parquet(wn).write.parquet(wnTmp.toString)
    f.delete(hWn, true)
    Dedup.compactWinnowIndex(spark, wn, files = 2)
    assert(f.exists(hWn) &&
      Dedup.readWinnowIndex(spark, wn).count() == wnRows,
      "compaction must heal the crashed swap before folding")
  }

  /** Row groups in `dir` whose text_hash [min,max] could contain a
    * probe, summed over probes — the same footer census
    * StreamingSpec's compactParquet leg uses: a range-sorted layout
    * prunes to one candidate row group per probe; appended full-range
    * delta files are candidates for every probe. */
  private def hashRowGroupCandidates(dir: String, probes: Seq[String]): Int = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    fs.listStatus(new Path(dir))
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try r.getFooter.getBlocks.asScala.map { block =>
          val st = block.getColumns.asScala
            .find(_.getPath.toDotString == "text_hash").get.getStatistics
          val mn = st.genericGetMin
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
          val mx = st.genericGetMax
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
          probes.count(p => p >= mn && p <= mx)
        }.sum
        finally r.close()
      }.sum
  }

  test("bloom-screened incremental dedup equals the plain left-anti path") {
    import java.nio.file.Files
    val corpus = docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text")
    val batch = docs.filter($"doc_id" % 2 === 1).select($"doc_id", $"text")
    val index = Dedup.exactHashIndex(corpus)
    // bloom round-trips through parquet — it is the sidecar artifact
    val bloomPath = Files.createTempDirectory("graft_bloom").toString
    Dedup.exactIndexBloom(index, expectedItems = 10000)
      .write.mode("overwrite").parquet(bloomPath)
    val bloom = spark.read.parquet(bloomPath)
    val plain = Dedup.dedupAgainstIndex(batch, index)
    val screened = Dedup.dedupAgainstIndexScreened(batch, index, bloom)
    assert(screened.columns.toSeq == batch.columns.toSeq,
      "screened path must keep the batch schema (no helper columns leaked)")
    assert(screened.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet)
    assert(plain.count() > 0, "fixture split should leave novel batch rows")
  }

  test("bloom screen plan: IN pushed to the index scan, no shuffle join") {
    // Forbid auto-broadcast so any non-explicit join would surface as a
    // shuffle — the screened path must stay broadcast BY CONSTRUCTION.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import java.nio.file.Files
      val corpus = docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text")
      // plant corpus dups: an all-novel batch folds the whole index leg
      // away (In(empty) → false → empty relation — the ideal degenerate
      // plan, but not the route this test pins). localCheckpoint keeps
      // the batch a single relation (a union would clone the anti join
      // into each branch and muddy the join census below).
      val batch = docs.filter($"doc_id" % 2 === 1).select($"doc_id", $"text")
        .union(corpus.limit(5)
          .select(($"doc_id" + 500000L).as("doc_id"), $"text"))
        .localCheckpoint(true)
      // the index round-trips parquet — the pushdown this test pins
      // lives in the parquet scan of the PERSISTED artifact
      val idxPath = Files.createTempDirectory("graft_bloom_plan").toString
      Dedup.exactHashIndex(corpus).write.mode("overwrite").parquet(idxPath)
      val index = spark.read.parquet(idxPath)
      val bloom = Dedup.exactIndexBloom(index, expectedItems = 10000)
      val screened = Dedup.dedupAgainstIndexScreened(batch, index, bloom)
      val qe = screened.queryExecution
      screened.collect()
      // the AQE plan string prints the final plan then repeats the
      // initial one — census the FINAL section only
      val plan = qe.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"index side must never shuffle-join:\n$plan")
      // point-lookup route: the maybe-set reaches the index's parquet
      // scan as a pushed IN predicate (row-group pruning under a sorted
      // layout); only the anti join remains — broadcast
      assert("BroadcastHashJoin".r.findAllIn(plan).size == 1, plan)
      assert(plan.contains("PushedFilters: [In(text_hash"),
        s"IN must reach the index parquet scan:\n$plan")
      // the bloom predicate must NOT be inferred onto the index side (a
      // per-index-row probe was the measured regression this guards) —
      // neither the built-in form nor the broadcast-handle kernel
      val idxScanLines = plan.linesIterator
        .filter(_.contains("graft_bloom_plan")).toSeq
      assert(idxScanLines.nonEmpty, s"expected the index scan in:\n$plan")
      assert(idxScanLines.forall(l =>
        !l.contains("graft_bloom_probe") && !l.contains("might_contain")),
        s"bloom probe inferred onto the index scan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("bloom screen fallback route (semi join) equals plain and pushdown") {
    val corpus = docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text")
    val batch = docs.filter($"doc_id" % 2 === 1).select($"doc_id", $"text")
      // plant corpus dups so the maybe-set is non-empty on both routes
      .union(corpus.limit(5).select(($"doc_id" + 500000L).as("doc_id"), $"text"))
    val index = Dedup.exactHashIndex(corpus)
    val bloom = Dedup.exactIndexBloom(index, expectedItems = 10000)
    val plain = Dedup.dedupAgainstIndex(batch, index)
      .collect().map(_.toSeq).toSet
    // inListLimit = 0 forces the distributed semi-join route
    val semi = Dedup.dedupAgainstIndexScreened(batch, index, bloom,
      inListLimit = 0).collect().map(_.toSeq).toSet
    val pushed = Dedup.dedupAgainstIndexScreened(batch, index, bloom)
      .collect().map(_.toSeq).toSet
    assert(semi == plain)
    assert(pushed == plain)
  }

  test("appendToExactBloom: rolled-forward bloom screens a grown index") {
    val r1 = Seq((1L, "alpha doc"), (2L, "beta doc")).toDF("doc_id", "text")
    var index = Dedup.exactHashIndex(r1)
    var bloom = Dedup.exactIndexBloom(index, expectedItems = 1000)

    val b1 = Seq((10L, "alpha doc"), (11L, "gamma doc")).toDF("doc_id", "text")
    val kept1 = Dedup.dedupAgainstIndexScreened(b1, index, bloom)
    assert(kept1.select($"doc_id").as[Long].collect().toSet == Set(11L))
    index = index.union(Dedup.exactHashIndex(kept1)).distinct()
    bloom = Dedup.appendToExactBloom(bloom, kept1)

    // round 2 screens against the grown index: the doc kept in round 1
    // must now be caught by the ROLLED-FORWARD bloom, not slip through
    val b2 = Seq((20L, "gamma doc"), (21L, "delta doc"),
      (22L, "beta doc")).toDF("doc_id", "text")
    val kept2 = Dedup.dedupAgainstIndexScreened(b2, index, bloom)
    assert(kept2.select($"doc_id").as[Long].collect().toSet == Set(21L))
    // geometry is preserved by the merge
    val (r0, rN) = (Dedup.exactIndexBloom(index, 1000).select($"bf_bits"),
      bloom.select($"bf_bits"))
    assert(r0.as[Long].head() == rN.as[Long].head())
  }

  test("bloom of an empty index routes every batch row as definitely-new") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val index = Dedup.exactHashIndex(empty)
    val bloom = Dedup.exactIndexBloom(index, expectedItems = 100)
    assert(bloom.count() == 1)
    val batch = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstIndexScreened(batch, index, bloom)
    assert(kept.select($"doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("bloom-screened dedup equals plain on seeded random corpora") {
    val rng = new scala.util.Random(20260813L)
    val vocab = Vector("lorem", "ipsum", "dolor", "sit", "amet", "sed", "do")
    def doc(): String = Seq.fill(6 + rng.nextInt(6))(
      vocab(rng.nextInt(vocab.size))).mkString(" ")
    for (trial <- 1 to 3) {
      val corpus = (1L to 40L).map(i => (i, doc())).toDF("doc_id", "text")
      val batch = (100L to 140L).map(i => (i, doc())).toDF("doc_id", "text")
      val index = Dedup.exactHashIndex(corpus)
      val bloom = Dedup.exactIndexBloom(index, expectedItems = 1000)
      val plain = Dedup.dedupAgainstIndex(batch, index)
        .collect().map(_.toSeq).toSet
      val screened = Dedup.dedupAgainstIndexScreened(batch, index, bloom)
        .collect().map(_.toSeq).toSet
      assert(screened == plain, s"trial $trial diverged")
    }
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select($"doc_a", $"doc_b", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("incremental near-dup dedup against a persisted MinHash band index") {
    import java.nio.file.Files
    // standing corpus vs ingest batch, split from the organic sf0.001
    // docs so both cross-pairs and (via round 2) intra-batch pairs occur
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
    // the index round-trips through parquet — it is the persisted artifact
    val idxPath = Files.createTempDirectory("graft_mh_idx").toString
    Dedup.minhashBandIndex(corpus, k = 5, numHashes = 32, bands = 8)
      .write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)

    // pinned equal to minhashLsh on the union: the index screen must
    // report EXACTLY the union's pairs that involve a batch doc (the
    // corpus-internal pairs are the standing index's own history),
    // with identical jaccard values
    val got = pairSet(Dedup.nearDupAgainstIndex(batch, index, 0.6))
    val onUnion = pairSet(Dedup.minhashLsh(docs, 5, 32, 8, 0.6))
    val corpusOnly = pairSet(Dedup.minhashLsh(corpus, 5, 32, 8, 0.6))
    val expected = onUnion.diff(corpusOnly)
    assert(expected.nonEmpty, "expected batch-involving pairs at sf0.001")
    assert(got == expected,
      s"missed: ${expected.diff(got)}; extra: ${got.diff(expected)}")

    // round 2: append the batch to the index, re-ingest its docs under
    // fresh ids — every (long-enough) doc must be caught as an exact
    // near-dup of its original THROUGH THE UPDATED INDEX
    val index2 = Dedup.appendToMinhashIndex(index, batch)
    val batch2 = batch.withColumn("doc_id", $"doc_id" + 1000000L)
    val got2 = pairSet(Dedup.nearDupAgainstIndex(batch2, index2, 0.99))
    val replayable = batch
      .filter(org.apache.spark.sql.functions.size(
        graft.functions.TextOps.tokens($"text")) >= 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(replayable.nonEmpty)
    replayable.foreach { id =>
      assert(got2.contains((id, id + 1000000L, 1.0)),
        s"replayed doc $id not caught by the updated index")
    }
  }

  test("nearDupIngestRound: kept set, corpus preference, and replay absorption") {
    // corpus = low ids, batch = high ids (the fresh-id contract)
    val corpus = docs.filter($"doc_id" < 250)
    val batch = docs.filter($"doc_id" >= 250)
    val index = Dedup.minhashBandIndex(corpus, k = 5, numHashes = 32,
      bands = 8)
    val (kept, index2) = Dedup.nearDupIngestRound(batch, index, 0.6)

    // expected drops from first principles: components over the union's
    // batch-involving pairs; a batch doc survives iff it is its
    // component's minimum (corpus docs, having lower ids, always win)
    val pairs = Dedup.nearDupAgainstIndex(batch, index, 0.6)
    val nonKeepers = Dedup.dedupClusters(pairs)
      .filter(!$"is_keep").select($"doc_id").as[Long].collect().toSet
    // the cluster graph may mark a CORPUS doc non-keeper too (two corpus
    // docs bridged by a batch near-dup — a duplication the standing
    // corpus already contains); the round must drop only batch rows
    val expectedDrops = nonKeepers.filter(_ >= 250L)
    assert(expectedDrops.nonEmpty, "expected near-dup drops at sf0.001")
    val keptIds = kept.select($"doc_id").as[Long].collect().toSet
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    assert(keptIds == batchIds.diff(expectedDrops))
    assert(kept.columns.toSeq == batch.columns.toSeq)

    // replaying the kept rows under fresh ids against the UPDATED index
    // absorbs everything (each replay is an exact copy of an ingested doc)
    val replay = kept.withColumn("doc_id", $"doc_id" + 1000000L)
    val (kept2, _) = Dedup.nearDupIngestRound(replay, index2, 0.6)
    assert(kept2.count() == 0L,
      "replayed copies slipped past the updated index")
  }

  test("index screen equals union-LSH minus corpus-LSH on seeded random corpora") {
    // property form of the two-round pin: for ANY corpus/batch split,
    // screening the batch through the corpus index must report exactly
    // the union's batch-involving pairs with identical jaccard — runs
    // on generated corpora (planted near-dups via perturbed copies) so
    // the identity isn't an artifact of the organic fixture
    val rnd = new scala.util.Random(20260813L)
    val vocab = ('a' to 'z').map(c => s"w$c")
    (1 to 3).foreach { trial =>
      def doc(): String =
        Seq.fill(8 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      val originals = (0 until 40).map(i => (i.toLong, doc()))
      // ~1/3 of docs get a near-dup twin: copy with one token swapped
      val twins = originals.filter(_ => rnd.nextInt(3) == 0).map {
        case (id, text) =>
          val toks = text.split(" ")
          toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
          (id + 1000L, toks.mkString(" "))
      }
      val all = (originals ++ twins).toDF("doc_id", "text")
      val corpus = all.filter($"doc_id" % 2 === 0)
      val batch = all.filter($"doc_id" % 2 =!= 0)
      val index = Dedup.minhashBandIndex(corpus, k = 3, numHashes = 32,
        bands = 8)
      val got = pairSet(Dedup.nearDupAgainstIndex(batch, index, 0.5))
      val expected = pairSet(Dedup.minhashLsh(all, 3, 32, 8, 0.5))
        .diff(pairSet(Dedup.minhashLsh(corpus, 3, 32, 8, 0.5)))
      assert(got == expected,
        s"trial $trial: missed ${expected.diff(got)}; extra ${got.diff(expected)}")
    }
  }

  test("hashed-shingle minhash index reports identical pairs") {
    // the 100-TB artifact form: xxhash64'd shingles (8 bytes vs ~40 per
    // gram) must leave every verified pair and jaccard value unchanged
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
    val strIdx = Dedup.minhashBandIndex(corpus, 5, 32, 8)
    val hashIdx = Dedup.minhashBandIndex(corpus, 5, 32, 8,
      hashedShingles = true)
    assert(pairSet(Dedup.nearDupAgainstIndex(batch, hashIdx, 0.6)) ==
      pairSet(Dedup.nearDupAgainstIndex(batch, strIdx, 0.6)))
  }

  test("minhash-index artifact: delta appends + replay screen exactly through the manifest") {
    import java.nio.file.Files
    val seed = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    val batch = docs.filter($"doc_id" % 3 === 2)
    val path = Files.createTempDirectory("graft_mh_art")
      .resolve("index").toString
    Dedup.saveMinhashIndex(
      Dedup.minhashBandIndex(seed, 5, 32, 8), path, files = 2)
    Dedup.appendMinhashIndexDelta(spark, path, b1)
    Dedup.appendMinhashIndexDelta(spark, path, b1) // replay

    // manifest-planned read; sidecar equals directory truth
    val loaded = Dedup.readMinhashIndex(spark, path)
    assert(loaded.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"))
    val st = graft.operators.ArtifactManifest
      .readClean(spark, path, "minhash_band_index").get
    assert(st.params - graft.operators.ArtifactManifest.BaseFilesParam ==
      Map("k" -> "5", "hashes" -> "32",
        "bands" -> "8", "hashed" -> "false"))
    assert(st.totalRows == loaded.count())
    assert(loaded.count() > seed.count() + b1.count(),
      "precondition: the replay left physical duplicates")

    // the artifact screen over the replayed state equals the in-memory
    // screen over the union index
    val expected = pairSet(Dedup.nearDupAgainstIndex(batch,
      Dedup.minhashBandIndex(seed.unionByName(b1), 5, 32, 8), 0.4))
    assert(expected.nonEmpty)
    assert(pairSet(Dedup.nearDupAgainstArtifact(spark, path, batch, 0.4))
      == expected,
      "artifact screen must equal the in-memory union screen")

    // compaction folds the physical replay; screen unchanged
    val (nb, na) = Dedup.compactMinhashIndex(spark, path, files = 2)
    assert(nb > na)
    assert(Dedup.readMinhashIndex(spark, path).count() ==
      seed.count() + b1.count())
    assert(pairSet(Dedup.nearDupAgainstArtifact(spark, path, batch, 0.4))
      == expected)

    // dirty sidecar → discovering fallback, identical screen
    graft.operators.MaintenanceProtocol.markDirty(spark, path)
    assert(!Dedup.readMinhashIndex(spark, path)
      .queryExecution.executedPlan.toString.contains("ManifestFileIndex"))
    assert(pairSet(Dedup.nearDupAgainstArtifact(spark, path, batch, 0.4))
      == expected)
    graft.operators.MaintenanceProtocol.clearDirty(spark, path)
  }

  test("incremental contamination screen via a persisted winnow index matches q47") {
    import java.nio.file.Files
    // q47's decontamination pass, incrementalized: index the train split
    // once, screen the test split against the loaded artifact — result
    // must be exactly the declared (oracle-green) q47 relation
    val train = docs.filter($"doc_id" % 2 === 0)
    val test = docs.filter($"doc_id" % 2 =!= 0)
    val idxPath = Files.createTempDirectory("graft_wf_idx").toString
    Dedup.winnowIndex(train, k = 3, w = 4, algo = "md5_60")
      .write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)
    val got = Dedup.contaminationAgainstIndex(test, index)
      .select($"new_id", $"corpus_id", $"n_shared")
      .as[(Long, Long, Long)].collect().toSet
    val expected = graft.jobs.DocumentQueries.q47Contamination(spark, sf0001)
      .select($"test_id", $"train_id", $"n_shared")
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    assert(got == expected,
      s"missed: ${expected.diff(got)}; extra: ${got.diff(expected)}")
  }

  test("appendToWinnowIndex: two-round growth equals a from-scratch index of the union") {
    import java.nio.file.Files
    // the monthly-corpus-growth path: index month 1, append month 2 —
    // the grown artifact must screen EXACTLY like winnowIndex built
    // over both months at once, params carried from the artifact
    val month1 = docs.filter($"doc_id" % 3 === 0)
    val month2 = docs.filter($"doc_id" % 3 === 1)
    val probes = docs.filter($"doc_id" % 3 === 2)
    val idxPath = Files.createTempDirectory("graft_wf_grow").toString
    Dedup.winnowIndex(month1, k = 3, w = 4, algo = "md5_60")
      .write.mode("overwrite").parquet(idxPath)
    val grown = Dedup.appendToWinnowIndex(
      spark.read.parquet(idxPath), month2)
    // artifact round-trip of the grown index, as production would
    val grownPath = Files.createTempDirectory("graft_wf_grown").toString
    grown.write.mode("overwrite").parquet(grownPath)
    val scratch = Dedup.winnowIndex(month1.unionByName(month2),
      k = 3, w = 4, algo = "md5_60")
    def screen(idx: org.apache.spark.sql.DataFrame) =
      Dedup.contaminationAgainstIndex(probes, idx)
        .select($"new_id", $"corpus_id", $"n_shared")
        .as[(Long, Long, Long)].collect().toSet
    val got = screen(spark.read.parquet(grownPath))
    val expected = screen(scratch)
    assert(expected.nonEmpty)
    assert(got == expected,
      s"missed: ${expected.diff(got)}; extra: ${got.diff(expected)}")
    // the index rows themselves agree, not just one screen's view
    assert(grown.select($"doc_id", $"fingerprint")
      .exceptAll(scratch.select($"doc_id", $"fingerprint")).isEmpty)
    assert(scratch.select($"doc_id", $"fingerprint")
      .exceptAll(grown.select($"doc_id", $"fingerprint")).isEmpty)
  }

  test("appendToWinnowIndex fails fast on an empty index") {
    val empty = Dedup.winnowIndex(docs.limit(0), 3, 4, "md5_60")
    intercept[IllegalArgumentException] {
      Dedup.appendToWinnowIndex(empty, docs.limit(5))
    }
  }

  test("appendToWinnowIndex rejects a replayed batch (already-indexed doc_ids)") {
    // a crash-replayed monthly append would double-count df and push
    // fingerprints over contaminationAgainstIndex's maxDF cap — the
    // fresh-doc contract is a checked precondition, like nearDupIngestRound
    val month1 = docs.filter($"doc_id" % 3 === 0)
    val index = Dedup.winnowIndex(month1, k = 3, w = 4, algo = "md5_60")
    val replay = docs.filter($"doc_id" % 3 === 0).limit(5)
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToWinnowIndex(index, replay)
    }
    assert(e.getMessage.contains("already exist"), e.getMessage)
    // the anti-joined delta of the same batch appends fine
    val mixed = docs.filter($"doc_id" % 3 =!= 2)
    val delta = mixed.join(index.select($"doc_id").distinct(),
      Seq("doc_id"), "left_anti")
    assert(Dedup.appendToWinnowIndex(index, delta).count() > index.count())
  }

  test("rename-staged appends stay visible to cached discovering reads and compaction") {
    import java.nio.file.Files
    // regression (r17 review): stageIntoRoot's raw FS renames bypass
    // Spark's FileStatusCache invalidation (the old mode("append")
    // write invalidated it) — a compaction planning from a stale
    // cached listing would silently DROP the appended rows and certify
    // the truncated artifact as clean
    val seed = docs.filter($"doc_id" % 2 === 0)
    val b1 = docs.filter($"doc_id" % 2 =!= 0)
    val path = Files.createTempDirectory("graft_exact_cache")
      .resolve("index").toString
    Dedup.saveExactIndex(Dedup.exactHashIndex(seed), path, files = 2)
    // populate the shared FileStatusCache with the pre-append listing
    val before = spark.read.parquet(path).count()
    Dedup.appendExactIndexDelta(spark, path, b1)
    // the discovering read must see the appended files...
    assert(spark.read.parquet(path).count() > before,
      "a discovering read after a rename-staged append must see the delta")
    // ...and compaction must fold the UNION, not the stale listing
    Dedup.compactExactIndex(spark, path)
    assert(Dedup.readExactIndex(spark, path).count() ==
      Dedup.exactHashIndex(docs).count(),
      "compaction must keep the appended rows")
  }

  test("a foreign-family artifact is refused, never scanned as nulls") {
    import java.nio.file.Files
    // a winnow artifact pointed at the exact-index reader must throw,
    // not serve all-null text_hash (which would declare every screened
    // doc novel — silent duplicate contamination)
    val path = Files.createTempDirectory("graft_family")
      .resolve("index").toString
    Dedup.saveWinnowIndex(
      Dedup.winnowIndex(docs.limit(20), k = 3, w = 4, algo = "md5_60"), path)
    val e = intercept[IllegalStateException](
      Dedup.readExactIndex(spark, path).count())
    assert(e.getMessage.contains("winnow_index") &&
      e.getMessage.contains("exact_hash_index"), e.getMessage)
    // and a DIRTY foreign manifest still names its family (the tag is
    // authoritative even when the file list is stale)
    graft.operators.MaintenanceProtocol.markDirty(spark, path)
    intercept[IllegalStateException](
      Dedup.readMinhashIndex(spark, path).count())
    graft.operators.MaintenanceProtocol.clearDirty(spark, path)
  }

  test("winnow-index artifact: stale-df screens exact, compaction restores df") {
    import java.nio.file.Files
    // lifecycle: seed build + two delta appends + an at-least-once
    // replay — the artifact state where stored df is only a batch-local
    // lower bound and replay duplicates sit on disk
    val seed = docs.filter($"doc_id" % 6 === 0)
    val b1 = docs.filter($"doc_id" % 6 === 2)
    val b2 = docs.filter($"doc_id" % 6 === 4)
    val train = docs.filter($"doc_id" % 2 === 0)
    val evalDocs = docs.filter($"doc_id" % 2 =!= 0)
    val path = Files.createTempDirectory("graft_wf_art")
      .resolve("index").toString
    Dedup.saveWinnowIndex(
      Dedup.winnowIndex(seed, k = 3, w = 4, algo = "md5_60"), path,
      files = 2)
    Dedup.appendWinnowIndexDelta(spark, path, b1)
    Dedup.appendWinnowIndexDelta(spark, path, b2)
    Dedup.appendWinnowIndexDelta(spark, path, b2) // replay

    // manifest-planned read; sidecar equals directory truth
    val loaded = Dedup.readWinnowIndex(spark, path)
    assert(loaded.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"),
      "winnow reads must plan from the manifest")
    val st = graft.operators.ArtifactManifest
      .readClean(spark, path, "winnow_index").get
    val fsT = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirTruth = fsT.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(f => (f.getPath.getName, f.getLen)).toSet
    assert(st.files.map(e => (e.file, e.bytes)).toSet == dirTruth)
    assert(st.totalRows == loaded.count())
    assert(st.params - graft.operators.ArtifactManifest.BaseFilesParam ==
      Map("wf_k" -> "3", "wf_w" -> "4", "wf_algo" -> "md5_60"))

    // the artifact screen over the dirty state equals the from-scratch
    // in-memory screen — on BOTH routes (driver-pushed IN and the
    // broadcast-semi fallback)
    val scratch = Dedup.winnowIndex(train, k = 3, w = 4, algo = "md5_60")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"new_id", $"corpus_id", $"n_shared")
        .as[(Long, Long, Long)].collect().toSet
    val expected = setOf(Dedup.contaminationAgainstIndex(evalDocs, scratch))
    assert(expected.nonEmpty)
    val gotPushed = Dedup.contaminationAgainstArtifact(spark, path, evalDocs)
    assert(gotPushed.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"))
    assert(setOf(gotPushed) == expected,
      "stale-df artifact screen must equal the from-scratch screen")
    assert(setOf(Dedup.contaminationAgainstArtifact(spark, path, evalDocs,
      inListLimit = 2)) == expected,
      "the broadcast-semi fallback route must agree")

    // compaction folds the replay and restores EXACT stored df — the
    // full (doc_id, fingerprint, df) relation matches the rebuild
    val (nb, na) = Dedup.compactWinnowIndex(spark, path, files = 2)
    assert(nb > na, s"compaction must fold files: $nb -> $na")
    def idxSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"fingerprint", $"df")
        .as[(Long, Long, Long)].collect().toSet
    assert(idxSet(Dedup.readWinnowIndex(spark, path)) == idxSet(scratch),
      "compacted artifact must equal the from-scratch index, df included")
    assert(setOf(Dedup.contaminationAgainstArtifact(spark, path, evalDocs))
      == expected, "post-compaction screens must be unchanged")

    // a stranded dirty flag degrades the read to discovery; the screen
    // still answers exactly (flat artifact: the listing is truth)
    graft.operators.MaintenanceProtocol.markDirty(spark, path)
    assert(!Dedup.readWinnowIndex(spark, path)
      .queryExecution.executedPlan.toString.contains("ManifestFileIndex"))
    assert(setOf(Dedup.contaminationAgainstArtifact(spark, path, evalDocs))
      == expected)
    graft.operators.MaintenanceProtocol.clearDirty(spark, path)
  }

  test("exactIndexBloom restores the session bloom-filter confs it raises") {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    val index = Dedup.exactHashIndex(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    // above the defaults (4M items / 67M bits) — would be visible
    // session-wide if leaked
    val bloom = Dedup.exactIndexBloom(index, expectedItems = 8000000L)
    assert(bloom.count() == 1)
    assert(keys.map(k => k -> spark.conf.getOption(k)) == prior,
      "exactIndexBloom must not leak raised conf floors into the session")
    val grown = Dedup.appendToExactBloom(bloom,
      Seq((3L, "c")).toDF("doc_id", "text"))
    assert(grown.count() == 1)
    assert(keys.map(k => k -> spark.conf.getOption(k)) == prior,
      "appendToExactBloom must not leak raised conf floors into the session")
  }

  test("nearDupAgainstIndex fails fast on an empty index") {
    val empty = Dedup.minhashBandIndex(docs.limit(0), 5, 32, 8)
    intercept[IllegalArgumentException] {
      Dedup.nearDupAgainstIndex(docs.limit(5), empty, 0.6)
    }
  }

  test("split leakage: only straddling components reported, splits sorted csv") {
    // component {1,2,3} straddles test/train; component {10,11} is
    // clean and must NOT appear; singleton docs never enter at all
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val splits = Seq(1L -> "train", 2L -> "test", 3L -> "train",
      10L -> "train", 11L -> "train", 99L -> "test").toDF("doc_id", "split")
    val got = Dedup.splitLeakage(pairs, splits).collect()
    assert(got.length == 1)
    assert((got(0).getLong(0), got(0).getLong(1), got(0).getLong(2),
      got(0).getString(3)) == ((1L, 3L, 2L, "test,train")))
  }

  test("split leakage on an empty pair list is an empty report") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val splits = Seq(1L -> "train").toDF("doc_id", "split")
    assert(Dedup.splitLeakage(pairs, splits).collect().isEmpty)
  }

  test("simhash fingerprints of near-identical docs are close") {
    val nearDup = Dedup.ngramJaccard(docs, k = 5, threshold = 0.9)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val fp = Dedup.simhashFingerprints(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nearDup.nonEmpty)
    val hammings = nearDup.map { case (x, y) =>
      java.lang.Long.bitCount(fp(x) ^ fp(y))
    }
    // ~99% shingle overlap ⇒ a few token swaps ⇒ small hamming; allow slack
    assert(hammings.max <= 16, s"hammings: ${hammings.mkString(",")}")
    assert(hammings.count(_ <= 7) >= nearDup.length / 2)
  }
}
