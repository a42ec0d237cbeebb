package graft

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotIngest
import graft.sources.SnapshotIngest.TableSpec

class SnapshotIngestSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("dump tree -> parquet snapshot round-trips through the engine's own loader") {
    // full circle: export two real tables as a pipe-delimited dump tree
    // (the shape a database export / AACT flat-file distribution hands
    // an ingest), run the S8 ingest, and require the restored snapshot
    // to serve IDENTICAL relations through Tables.load — the same
    // loader every declared query reads from
    val dumpDir = tempDir("graft_dump").toString
    val outDir = tempDir("graft_snapshot").toString
    val nation = Tables.load(spark, sf0001, "nation")
    val orders = Tables.load(spark, sf0001, "orders") // date/double/int types
    Seq("nation" -> nation, "orders" -> orders).foreach { case (n, df) =>
      df.write.option("sep", "|").option("header", "true")
        .option("emptyValue", "").csv(s"$dumpDir/$n.csv")
    }

    val counts = SnapshotIngest.ingest(spark, dumpDir, outDir, Seq(
      TableSpec("nation", nation.schema),
      TableSpec("orders", orders.schema)))
    assert(counts("nation") == nation.count())
    assert(counts("orders") == orders.count())

    Seq("nation" -> nation, "orders" -> orders).foreach { case (n, src) =>
      val restored = Tables.load(spark, outDir, n)
      assert(restored.schema == src.schema, s"$n schema drifted")
      assert(restored.exceptAll(src).count() == 0 &&
        src.exceptAll(restored).count() == 0, s"$n rows drifted")
    }
  }

  test("declared schema: empty fields load as NULL, types are pinned") {
    val dumpDir = tempDir("graft_dump_nulls")
    Files.write(dumpDir.resolve("t.csv"),
      "id|name|score\n1|alpha|1.5\n2||\n".getBytes("UTF-8"))
    val outDir = tempDir("graft_snap_nulls").toString
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val n = SnapshotIngest.ingestTable(spark, dumpDir.toString, outDir,
      TableSpec("t", schema, file = Some("t.csv")))
    assert(n == 2)
    val got = spark.read.parquet(s"$outDir/t.parquet")
    assert(got.schema == schema)
    val row2 = got.filter($"id" === 2).collect().head
    assert(row2.isNullAt(1) && row2.isNullAt(2))
  }

  test("audit count rides the write: exactly one action, no post-write re-read") {
    // the load-audit number must come from observe() on the in-flight
    // frame — a second action (re-reading the written parquet to count)
    // would double a 100 TB restore's read I/O. Pin it: ingestTable
    // completes exactly ONE Spark action.
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val dumpDir = tempDir("graft_dump_obs")
    Files.write(dumpDir.resolve("t.csv"),
      "id|name|score\n1|alpha|1.5\n2|beta|2.5\n3|gamma|3.5\n".getBytes("UTF-8"))
    val outDir = tempDir("graft_snap_obs").toString
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("name", StringType), StructField("score", DoubleType)))
    spark.listenerManager.register(listener)
    try {
      val n = SnapshotIngest.ingestTable(spark, dumpDir.toString, outDir,
        TableSpec("t", schema, file = Some("t.csv")))
      assert(n == 3) // in-flight tally matches the rows written
      // the listener bus is async: wait for the write's event, then a
      // grace window in which a would-be second action would surface
      val deadline = System.currentTimeMillis + 10000
      while (actions.get() < 1 && System.currentTimeMillis < deadline)
        Thread.sleep(25)
      Thread.sleep(500)
      assert(actions.get() == 1,
        s"expected one action (the write); saw ${actions.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("FAILFAST: a corrupt row fails the load instead of silently dropping") {
    // pg_restore -e semantics: half a snapshot is worse than none
    val dumpDir = tempDir("graft_dump_bad")
    Files.write(dumpDir.resolve("t.csv"),
      "id|name|score\n1|alpha|1.5\n2|beta|notanumber\n".getBytes("UTF-8"))
    val outDir = tempDir("graft_snap_bad").toString
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("name", StringType), StructField("score", DoubleType)))
    intercept[Exception] {
      SnapshotIngest.ingestTable(spark, dumpDir.toString, outDir,
        TableSpec("t", schema, file = Some("t.csv")))
    }
  }

  private val driftSchema = StructType(Seq(StructField("id", IntegerType),
    StructField("name", StringType), StructField("score", DoubleType)))

  test("header drift: an evolved dump fails the strict ingest, not silently shifts") {
    // the upstream gained a column mid-table: POSITIONAL schema
    // application would load 'extra' cells as name and names as score
    // (every cell still parses — FAILFAST cannot see it)
    val dumpDir = tempDir("graft_dump_drift")
    Files.write(dumpDir.resolve("t.csv"),
      "id|extra|name|score\n1|x|alpha|1.5\n2|y|beta|2.5\n".getBytes("UTF-8"))
    val outDir = tempDir("graft_snap_drift").toString
    val drift = SnapshotIngest.headerDrift(spark, dumpDir.toString,
      TableSpec("t", driftSchema, file = Some("t.csv")))
    assert(drift.added == Seq("extra") && drift.missing.isEmpty)
    val e = intercept[IllegalArgumentException] {
      SnapshotIngest.ingestTable(spark, dumpDir.toString, outDir,
        TableSpec("t", driftSchema, file = Some("t.csv")))
    }
    assert(e.getMessage.contains("drifted") &&
      e.getMessage.contains("byName"))
  }

  test("byName ingest aligns added + reordered + dropped columns") {
    // header says extra|name|id (score dropped, order scrambled): each
    // declared column must land under its NAME, score as typed NULLs
    val dumpDir = tempDir("graft_dump_byname")
    Files.write(dumpDir.resolve("t.csv"),
      "extra|name|id\nx|alpha|1\ny|beta|2\n".getBytes("UTF-8"))
    val outDir = tempDir("graft_snap_byname").toString
    val n = SnapshotIngest.ingestTable(spark, dumpDir.toString, outDir,
      TableSpec("t", driftSchema, file = Some("t.csv")), byName = true)
    assert(n == 2)
    val restored = spark.read.parquet(s"$outDir/t.parquet")
    assert(restored.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(restored.orderBy($"id").collect().map(r =>
      (r.getInt(0), r.getString(1), r.isNullAt(2))).toSeq ==
      Seq((1, "alpha", true), (2, "beta", true)))
  }

  test("snapshot diff: each status assigned exactly, carry cols from the right side") {
    import org.apache.spark.sql.functions._
    import graft.operators.SnapshotDiff
    val v1 = Seq((1L, "a", "s0"), (2L, "b", "s0"), (3L, "c", "s1"))
      .toDF("doc_id", "text", "source")
    val v2 = Seq((2L, "b", "s0"), (3L, "c-edited", "s1"), (4L, "d", "s9"))
      .toDF("doc_id", "text", "source")
    val got = SnapshotDiff.snapshotDiff(v1, v2, carry = Seq("source"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(got == Map(
      1L -> (("removed", "s0")),   // old side supplies carry for removed
      2L -> (("unchanged", "s0")),
      3L -> (("changed", "s1")),
      4L -> (("added", "s9"))))    // new side supplies carry for added
  }

  test("snapshot diff: empty sides and precomputed-hash reuse") {
    import org.apache.spark.sql.functions._
    import graft.operators.SnapshotDiff
    val docs = Seq((1L, "a", "s0"), (2L, "b", "s0")).toDF("doc_id", "text", "source")
    val none = docs.limit(0)
    assert(SnapshotDiff.snapshotDiff(none, docs).collect()
      .forall(_.getString(1) == "added"))
    assert(SnapshotDiff.snapshotDiff(docs, none).collect()
      .forall(_.getString(1) == "removed"))
    // a snapshot that already carries a content hash (the exactHashIndex
    // artifact shape) diffs without re-hashing text
    val hashed = docs.withColumn("h", xxhash64($"text"))
    val viaStored = SnapshotDiff
      .snapshotDiff(hashed, hashed, contentHash = $"h").collect()
    assert(viaStored.length == 2 && viaStored.forall(_.getString(1) == "unchanged"))
  }

  test("snapshot diff: null content on one side reads as changed, not unchanged") {
    import graft.operators.SnapshotDiff
    // md5(null text) is a null hash; the status CASE must use null-SAFE
    // inequality or these rows fall through to 'unchanged'
    val v1 = Seq((1L, null: String), (2L, "b"), (3L, null: String))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "now real"), (2L, null: String), (3L, null: String))
      .toDF("doc_id", "text")
    val got = SnapshotDiff.snapshotDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "changed", 2L -> "changed", 3L -> "unchanged"))
  }

  test("reordered-only drift is flagged, and byName restores the clean relation") {
    val dumpDir = tempDir("graft_dump_reorder")
    Files.write(dumpDir.resolve("t.csv"),
      "name|id|score\nalpha|1|1.5\nbeta|2|2.5\n".getBytes("UTF-8"))
    val drift = SnapshotIngest.headerDrift(spark, dumpDir.toString,
      TableSpec("t", driftSchema, file = Some("t.csv")))
    assert(drift.reordered && drift.added.isEmpty && drift.missing.isEmpty)
    val outDir = tempDir("graft_snap_reorder").toString
    intercept[IllegalArgumentException] {
      SnapshotIngest.ingestTable(spark, dumpDir.toString, outDir,
        TableSpec("t", driftSchema, file = Some("t.csv")))
    }
    SnapshotIngest.ingestTable(spark, dumpDir.toString, outDir,
      TableSpec("t", driftSchema, file = Some("t.csv")), byName = true)
    assert(spark.read.parquet(s"$outDir/t.parquet")
      .orderBy($"id").collect().map(r =>
        (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1, "alpha", 1.5), (2, "beta", 2.5)))
  }
}
