package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CacheScope, Dedup, Joins}

/** Library-contract guards: operator persists must not outlive a
  * [[CacheScope]] scope, malformed SQL arguments must fail with a clean
  * AnalysisException (not an NPE at resolution), and rangeJoin's
  * disjoint-column caller contract must fail with its own message
  * rather than a downstream ambiguous-column error.
  */
class ContractSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf0001, "documents")

  test("withCachesReleased frees every operator persist at scope exit") {
    // an earlier suite may have left an identical internal plan in the
    // CacheManager, which would dedupe this spec's persists — start clean
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CacheScope.withCachesReleased {
      val pairs = Dedup.minhashLsh(docs, k = 5, numHashes = 32, bands = 8,
        threshold = 0.4)
      assert(pairs.count() >= 0)
      // the signature frame is registered while the scope is open
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
        "expected operator-internal persists inside the scope")
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"blocks survived the scope: $leaked")
  }

  test("concurrent scopes refcount a shared plan — no eviction under a live scope") {
    import java.util.concurrent.CountDownLatch
    import org.apache.spark.sql.GraftColumnBridge
    spark.catalog.clearCache()
    // two threads build IDENTICAL plans: the CacheManager dedupes the
    // persists onto one entry, so the first scope to exit must NOT
    // evict it while the other scope is still open
    def frame() = docs.select($"doc_id", $"text").limit(200)
    val inScopeB = new CountDownLatch(1)
    val releaseB = new CountDownLatch(1)
    @volatile var errB: Throwable = null
    val dfB = frame()
    val b = new Thread(() => {
      try CacheScope.withCachesReleased {
        CacheScope.persist(dfB)
        dfB.count()
        inScopeB.countDown()
        releaseB.await()
      } catch { case t: Throwable => errB = t; inScopeB.countDown() }
    })
    b.start()
    inScopeB.await()
    assert(errB == null, s"scope thread failed: $errB")

    val dfA = frame()
    CacheScope.withCachesReleased {
      CacheScope.persist(dfA)
      dfA.count()
    }
    // scope A exited; scope B still holds the shared entry
    assert(GraftColumnBridge.isCached(dfB),
      "first scope exit evicted a plan a concurrent scope still holds")

    releaseB.countDown()
    b.join()
    assert(errB == null, s"scope thread failed: $errB")
    assert(!GraftColumnBridge.isCached(dfB),
      "last scope exit must release the shared entry")
    spark.catalog.clearCache()
  }

  test("outside a scope, persists still register (ContextCleaner path)") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Dedup.ngramJaccard(docs, k = 5, threshold = 0.4)
    assert(pairs.count() >= 0)
    val added = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(added.nonEmpty, "unscoped operator should persist as before")
    spark.catalog.clearCache()
  }

  test("graft_minhash rejects a non-literal numHashes with AnalysisException") {
    docs.limit(1).createOrReplaceTempView("contract_docs")
    val e = intercept[AnalysisException] {
      spark.sql(
        """SELECT graft_minhash(array(text), cast(doc_id as int))
           FROM contract_docs""").collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }

  test("graft_shingle_hashes rejects a non-literal k with AnalysisException") {
    docs.limit(1).createOrReplaceTempView("contract_docs")
    val e = intercept[AnalysisException] {
      spark.sql(
        """SELECT graft_shingle_hashes(array(text), cast(doc_id as int))
           FROM contract_docs""").collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }

  test("graft_winnow_mins rejects a non-literal w with AnalysisException") {
    docs.limit(1).createOrReplaceTempView("contract_docs")
    val e = intercept[AnalysisException] {
      spark.sql(
        """SELECT graft_winnow_mins(graft_shingle_hashes(array(text), 1),
                                    cast(doc_id as int))
           FROM contract_docs""").collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }

  test("graft_simhash rejects a non-literal bits with AnalysisException") {
    docs.limit(1).createOrReplaceTempView("contract_docs")
    val e = intercept[AnalysisException] {
      spark.sql(
        """SELECT graft_simhash(array(xxhash64(text)), cast(doc_id as int))
           FROM contract_docs""").collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }

  test("graft shape params accept foldable BIGINT/SMALLINT literals") {
    docs.limit(1).createOrReplaceTempView("contract_docs")
    // 32L folds to a BIGINT — a type detail, not a foldability problem,
    // so it must resolve like the plain INT literal does
    val viaLong = spark.sql(
      """SELECT graft_minhash(array(text), 32L) AS sig
         FROM contract_docs""").collect()
    val viaInt = spark.sql(
      """SELECT graft_minhash(array(text), 32) AS sig
         FROM contract_docs""").collect()
    assert(viaLong.map(_.toString).toSeq == viaInt.map(_.toString).toSeq)
    val viaCast = spark.sql(
      """SELECT graft_simhash(array(xxhash64(text)), cast(16 as smallint)) AS h
         FROM contract_docs""").collect()
    assert(viaCast.length == 1)
  }

  test("graft_minhash_band_keys raises AnalysisException when bands do not divide numHashes") {
    docs.limit(1).createOrReplaceTempView("contract_docs")
    val e = intercept[AnalysisException] {
      spark.sql(
        """SELECT graft_minhash_band_keys(array(text), 32, 5)
           FROM contract_docs""").collect()
    }
    assert(e.getMessage.contains("divide"), e.getMessage)
  }

  test("hash split lands near 80/10/10 and is stable across reruns") {
    import graft.jobs.DocumentQueries
    def fractions = DocumentQueries.q49HashSplit(spark, sf0001)
      .groupBy($"split").agg(org.apache.spark.sql.functions.sum($"n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val f1 = fractions
    val total = f1.values.sum.toDouble
    // md5 buckets are uniform: 500 docs → binomial(500, 0.8) is within
    // ±6% of 0.8 at > 5 sigma
    assert(math.abs(f1("train") / total - 0.8) < 0.06, s"train: $f1")
    assert(math.abs(f1("validate") / total - 0.1) < 0.05, s"validate: $f1")
    assert(math.abs(f1("test") / total - 0.1) < 0.05, s"test: $f1")
    assert(fractions == f1, "split must be deterministic across reruns")
  }

  test("nearDupIngestRound fails fast when a batch id already exists in the index") {
    // a colliding id would silently suppress its cross pair (the screen
    // joins on doc_a =!= doc_b) and mis-resolve keeps — the precondition
    // is CHECKED, not just documented
    val corpus = docs.filter($"doc_id" < 100)
    val index = Dedup.minhashBandIndex(corpus, k = 5, numHashes = 32,
      bands = 8)
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 150)
      .unionByName(corpus.limit(1)) // one replayed corpus id
    val err = intercept[IllegalArgumentException] {
      Dedup.nearDupIngestRound(batch, index, 0.6)
    }
    assert(err.getMessage.contains("fresh ids"), err.getMessage)
    // the clean batch still flows
    val (kept, _) = Dedup.nearDupIngestRound(
      docs.filter($"doc_id" >= 100 && $"doc_id" < 150), index, 0.6)
    assert(kept.count() > 0)
  }

  test("bloom artifact builders validate their sizing and presence contracts") {
    val index = Dedup.exactHashIndex(docs.limit(10))
    intercept[IllegalArgumentException] {
      Dedup.exactIndexBloom(index, expectedItems = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.exactIndexBloom(index, expectedItems = 100, fpp = 1.5)
    }
    // empty artifact frames fail fast with the remedy, on both consumers
    val emptyArtifact = Dedup.exactIndexBloom(index, 100).limit(0)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndexScreened(docs.limit(1), index, emptyArtifact)
    }
    assert(e1.getMessage.contains("exactIndexBloom"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendToExactBloom(emptyArtifact, docs.limit(1))
    }
    assert(e2.getMessage.contains("exactIndexBloom"), e2.getMessage)
  }

  test("rangeJoin rejects overlapping non-key column names up front") {
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "payload")
    val iv = Seq((1L, 0L, 20L, "y")).toDF("k", "s", "e", "payload")
    val err = intercept[IllegalArgumentException] {
      Joins.rangeJoin(left, iv, "k", "t", "s", "e")
    }
    assert(err.getMessage.contains("disjoint"), err.getMessage)
    assert(err.getMessage.contains("payload"), err.getMessage)
  }

  test("events load adapts to the snapshot's ts encoding; nanos path still guards the conf") {
    import java.nio.file.{Files, Path}
    val key = GraftSession.NanosKey
    val before = spark.conf.getOption(key)
    // stage the legacy TIMESTAMP(NANOS) fixture (src/test/resources,
    // pre-regeneration snapshot format) as an events snapshot dir
    val nanosDir = tempDir("graft_nanos_events")
    val res = getClass.getResourceAsStream("/events_nanos.parquet")
    Files.copy(res, nanosDir.resolve("events.parquet"))
    res.close()
    try {
      assert(before.contains("true"), "GraftSession.defaults must set the flag")
      // driver snapshot (timestamp[us]): NTZ passthrough, conf untouched
      val events = Tables.load(spark, sf0001, "events")
      assert(events.count() > 0)
      assert(events.schema("ts").dataType.typeName == "timestamp_ntz")
      assert(spark.conf.getOption(key) == before)
      // legacy nanos snapshot under the conf: SAME downstream shape —
      // NTZ micros — and the exact naive instant the nanos encode
      val legacy = Tables.load(spark, nanosDir.toString, "events")
      assert(legacy.schema("ts").dataType.typeName == "timestamp_ntz")
      val first = legacy.orderBy($"event_id")
        .select($"ts".cast("string")).first().getString(0)
      assert(first == "2021-01-01 00:00:00", first)
      // the streaming twin of the nanos branch agrees with the batch
      // load micro-for-micro (ts emerges as TimestampType there — the
      // watermark column — so compare on epoch micros)
      val streamedUs = graft.streaming.EventsStream.runToBatch(
        graft.streaming.EventsStream.readEvents(spark, nanosDir.toString)
          .selectExpr("event_id", "unix_micros(ts) AS us"),
        "contract_nanos_stream", "append")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batchUs = legacy.selectExpr("event_id",
        """timestampdiff(MICROSECOND,
           TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) AS us""")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamedUs == batchUs)
      // conf absent: the micros snapshot still loads (no legacy read in
      // play), but a nanos snapshot fails fast at the loader with the
      // remedy — NOT a silent spark.conf.set, NOT the raw
      // PARQUET_TYPE_ILLEGAL wall from schema inference
      spark.conf.unset(key)
      assert(Tables.load(spark, sf0001, "events").count() > 0)
      val err = intercept[IllegalStateException] {
        Tables.load(spark, nanosDir.toString, "events")
      }
      assert(err.getMessage.contains(key), err.getMessage)
      assert(err.getMessage.contains("GraftSession"), err.getMessage)
      // unset falls back to the SQLConf DEFAULT ("false"), not absence —
      // the point is the loader didn't flip it back to "true"
      assert(!spark.conf.getOption(key).contains("true"),
        "the loader itself must not re-set the conf")
      val errStream = intercept[IllegalStateException] {
        graft.streaming.EventsStream.readEvents(spark, nanosDir.toString)
      }
      assert(errStream.getMessage.contains(key), errStream.getMessage)
    } finally {
      before.foreach(spark.conf.set(key, _))
      Files.list(nanosDir).forEach((p: Path) => Files.delete(p))
      Files.delete(nanosDir)
    }
  }

  test("UTC-instant events snapshot loads to the same naive micros as the nanos twin") {
    import java.nio.file.{Files, Path}
    // the third loader branch: ts as TIMESTAMP(MICROS, adjusted=true)
    // instants. The fixture encodes the SAME instants as the legacy
    // nanos fixture, so both loads must agree value-for-value, and the
    // naive rendering must be the instant's UTC wall time whatever the
    // session TZ (the loader's unix_micros path never consults it).
    def stage(resource: String): Path = {
      val d = tempDir("graft_utc_events")
      val res = getClass.getResourceAsStream(resource)
      Files.copy(res, d.resolve("events.parquet"))
      res.close()
      d
    }
    val utcDir = stage("/events_utc_instants.parquet")
    val nanosDir = stage("/events_nanos.parquet")
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      def loadedUs(dir: Path): Map[Long, Long] =
        Tables.load(spark, dir.toString, "events")
          .selectExpr("event_id",
            """timestampdiff(MICROSECOND,
               TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) AS us""")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val utc = Tables.load(spark, utcDir.toString, "events")
      assert(utc.schema("ts").dataType.typeName == "timestamp_ntz")
      assert(loadedUs(utcDir) == loadedUs(nanosDir),
        "instant snapshot must load to the nanos twin's exact micros")
      // TZ invariance of the instants branch specifically
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(loadedUs(utcDir) == loadedUs(nanosDir))
      val first = Tables.load(spark, utcDir.toString, "events")
        .orderBy($"event_id").select($"ts".cast("string")).first().getString(0)
      assert(first == "2021-01-01 00:00:00", first)
    } finally {
      spark.conf.set("spark.sql.session.timeZone", tzBefore)
      Seq(utcDir, nanosDir).foreach { d =>
        Files.list(d).forEach((p: Path) => Files.delete(p))
        Files.delete(d)
      }
    }
  }

  test("stale Spark footer metadata over a retyped ts fails with the named remedy") {
    import java.nio.file.{Files, Path}
    // the adversarial fixture: parquet logical type TIMESTAMP(MICROS),
    // but a carried-over Spark row-metadata JSON claiming `ts` is long
    // — Spark trusts its own key, scans ts as LONG, and without the
    // guard the nanos branch would divide actual-micros by 1000 (every
    // timestamp lands in 1970, nothing errors; the sf1 oracle sweep
    // caught exactly this in the repack tool)
    val dir = tempDir("graft_stale_meta_events")
    val res = getClass.getResourceAsStream("/events_micros_stale_meta.parquet")
    Files.copy(res, dir.resolve("events.parquet"))
    res.close()
    try {
      // precondition: the trap is real — Spark scans the stale long
      assert(spark.read.parquet(dir.resolve("events.parquet").toString)
        .schema("ts").dataType.typeName == "long")
      val err = intercept[IllegalStateException] {
        Tables.load(spark, dir.toString, "events")
      }
      assert(err.getMessage.contains("MICROS"), err.getMessage)
      assert(err.getMessage.contains("replace_schema_metadata"), err.getMessage)
      val errStream = intercept[IllegalStateException] {
        graft.streaming.EventsStream.readEvents(spark, dir.toString)
      }
      assert(errStream.getMessage.contains("MICROS"), errStream.getMessage)
      // the fail-fast gate must arbitrate too — bigint is a LEGAL
      // legacy encoding only when the footer agrees it is nanos, so
      // validate over this snapshot fails with the same remedy instead
      // of blessing a corpus whose every events query then errors
      val errGate = intercept[IllegalStateException] {
        Tables.validate(spark, dir.toString)
      }
      assert(errGate.getMessage.contains("MICROS"), errGate.getMessage)
    } finally {
      Files.list(dir).forEach((p: Path) => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("mixed-generation events dir: stale metadata beyond the first file is still arbitrated") {
    import java.nio.file.{Files, Path}
    // a clean legacy-nanos file and a stale-row-metadata micros file in
    // ONE directory: both scan `ts` as long, so the loader takes the
    // nanos branch for the whole directory — and the stale file's
    // actual-micros would be divided by 1000. The guard arbitrates
    // EVERY file's footer, so whichever file the listing yields first,
    // the contradiction is named (a first-file-only sample would bless
    // the directory whenever the clean file sorts first).
    val dir = tempDir("graft_mixed_events")
    val table = dir.resolve("events.parquet")
    Files.createDirectory(table)
    def put(resource: String, name: String): Unit = {
      val res = getClass.getResourceAsStream(resource)
      Files.copy(res, table.resolve(name)); res.close()
    }
    put("/events_nanos.parquet", "a_clean_nanos.parquet")
    put("/events_micros_stale_meta.parquet", "b_stale_micros.parquet")
    try {
      val err = intercept[IllegalStateException] {
        Tables.load(spark, dir.toString, "events")
      }
      assert(err.getMessage.contains("MICROS"), err.getMessage)
      assert(err.getMessage.contains("b_stale_micros"), err.getMessage)
    } finally {
      Files.list(table).forEach((p: Path) => Files.delete(p))
      Files.delete(table); Files.delete(dir)
    }
  }

  test("validate routes a nanos-without-conf failure to the canonical remedy") {
    import java.nio.file.{Files, Path}
    // without the legacy conf, a nanos snapshot fails Spark's footer
    // conversion before validate's per-column diff can run — the gate
    // must surface requireNanosConf's named remedy, not a generic
    // "unreadable (Illegal Parquet type...)" line burying the fix
    val key = GraftSession.NanosKey
    val before = spark.conf.getOption(key)
    val dir = tempDir("graft_nanos_gate")
    val res = getClass.getResourceAsStream("/events_nanos.parquet")
    Files.copy(res, dir.resolve("events.parquet")); res.close()
    try {
      spark.conf.unset(key)
      val err = intercept[IllegalStateException] {
        Tables.validate(spark, dir.toString, Seq("events"))
      }
      assert(err.getMessage.contains(key), err.getMessage)
      assert(err.getMessage.contains("GraftSession"), err.getMessage)
    } finally {
      before.foreach(spark.conf.set(key, _))
      Files.list(dir).forEach((p: Path) => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("Tables.validate passes the driver snapshot and names every drifted column") {
    import java.nio.file.{Files, Path, Paths}
    Tables.validate(spark, sf0001) // the real snapshot must gate green
    val dir = tempDir("graft_drift_snapshot")
    try {
      Tables.all.foreach { t =>
        Files.createSymbolicLink(dir.resolve(s"$t.parquet"),
          Paths.get(s"$sf0001/$t.parquet"))
      }
      // two deliberate drifts: a re-typed column and a dropped column —
      // ONE validate call must name both (all diffs in one exception)
      Files.delete(dir.resolve("documents.parquet"))
      Files.delete(dir.resolve("supplier.parquet"))
      spark.read.parquet(s"$sf0001/documents.parquet")
        .withColumn("n_chars", $"n_chars".cast("double"))
        .write.parquet(dir.resolve("documents.parquet").toString)
      spark.read.parquet(s"$sf0001/supplier.parquet").drop("s_acctbal")
        .write.parquet(dir.resolve("supplier.parquet").toString)
      val err = intercept[IllegalStateException] {
        Tables.validate(spark, dir.toString)
      }
      assert(err.getMessage.contains("documents.n_chars"), err.getMessage)
      assert(err.getMessage.contains("scanned double"), err.getMessage)
      assert(err.getMessage.contains("supplier.s_acctbal"), err.getMessage)
      assert(err.getMessage.contains("MISSING"), err.getMessage)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach((p: Path) => Files.delete(p))
    }
  }

  test("every declared query has an oracle and no name collides across job maps") {
    import graft.jobs._
    // a query without an oracle silently downgrades the driver's check
    // from hash-match to rows-only. A genuinely non-SQL-expressible
    // query goes HERE with a justification comment; empty today — every
    // declared query has a DuckDB twin.
    val oracleExempt = Set.empty[String]
    val noOracle = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- oracleExempt
    assert(noOracle.isEmpty,
      s"queries without an oracle entry: ${noOracle.toSeq.sorted.mkString(", ")}")
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty,
      s"oracle entries with no query: ${orphanOracles.toSeq.sorted.mkString(", ")}")
    // Map ++ silently drops duplicate keys: a name declared twice in two
    // job objects would make one implementation disappear unnoticed
    val parts = Seq(RelationalQueries.queries, EventQueries.queries,
      DocumentQueries.queries, EmbeddingQueries.queries,
      PipelineQueries.queries, AactQueries.queries)
    assert(parts.map(_.size).sum == SparkEntry.queries.size,
      "duplicate query name across job maps (one implementation shadowed)")
    val oracleParts = Seq(RelationalQueries.oracle, EventQueries.oracle,
      DocumentQueries.oracle, EmbeddingQueries.oracle,
      PipelineQueries.oracle, AactQueries.oracle)
    assert(oracleParts.map(_.size).sum == SparkEntry.oracleSql.size,
      "duplicate oracle name across job maps")
  }

  test("every spec-only SURVEY §2 row is still named by a live spec " +
      "(coverage drift guard)") {
    // The DuckDB oracle cannot express the ML-boundary / sink /
    // streaming rows of SURVEY §2 — their correctness lives in the
    // suite alone. This leg pins each such row to (covering spec file,
    // the implementing symbol that spec exercises): a refactor that
    // renames the symbol or deletes/renames the suite breaks HERE with
    // the orphaned row named, instead of silently shedding coverage
    // the VERDICT table still claims. Compilation already guards
    // main-source symbol existence (the specs reference them); this
    // guards the spec-side naming.
    val specDir = new java.io.File("src/test/scala/graft")
    assume(specDir.isDirectory, "spec sources not visible from test cwd")
    val rows: Seq[(String, String, String)] = Seq(
      ("S1 jdbc extract", "JdbcIngressSpec.scala", "JdbcIngress"),
      ("S2 ini config", "JdbcIngressSpec.scala", "loadIni"),
      ("S4 sed cleanup", "WarehouseWriterSpec.scala", "sedCleanup"),
      ("S5 bulk load", "WarehouseWriterSpec.scala", "saveTable"),
      ("S7 drop-if-exists", "WarehouseWriterSpec.scala", "dropIfExists"),
      ("S8 archive restore", "SnapshotIngestSpec.scala", "SnapshotIngest"),
      ("S9 csv sink", "WarehouseWriterSpec.scala", "headerCsv"),
      ("S10 index-as-layout", "PlanShapeSpec.scala", "saveBucketed"),
      ("S11 tensor boundary", "MlSpec.scala", "OutcomePipeline.fit"),
      ("P3 column drop", "AactPipelineSpec.scala", ".drop("),
      ("P4 label pop", "MlSpec.scala", "OutcomePipeline"),
      ("M1 seeded split", "MlSpec.scala", "0.005"),
      ("M4 one-hot", "MlSpec.scala", "OutcomePipeline.fit"),
      ("M5 assembler", "MlSpec.scala", "OutcomePipeline.fit"),
      ("M8 dnn classifier", "MlSpec.scala", "trainEval"),
      ("M9 evaluate", "MlSpec.scala", "trainEval"),
      ("M10 predict report", "MlSpec.scala", "predictionReport"),
      ("M11 label decode", "MlSpec.scala", "labelDecode"))
    val orphaned = rows.filter { case (_, file, token) =>
      val f = new java.io.File(specDir, file)
      !f.isFile || {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try !src.mkString.contains(token) finally src.close()
      }
    }
    assert(orphaned.isEmpty,
      "spec-only §2 rows no longer named by their covering spec: " +
        orphaned.map { case (row, file, tok) => s"$row ($file ~ '$tok')" }
          .mkString("; "))
  }
}
