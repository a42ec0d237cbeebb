package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Config, WarehouseWriter}

/** Round-trip contracts for the sink layer (SURVEY S3/S4/S5/S6/S7/S9):
  * write → re-read → exact match against the (cleaned) source frame.
  */
class WarehouseWriterSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  private def fixture = Seq(
    (1L, "plain text", "Completed", 10),
    (2L, "has \"quotes\" inside", "Terminated", 20),
    (3L, "pipe | in | the middle", "Recruiting", 30),
    (4L, "both \" and | mixed", "Withdrawn", 40))
    .toDF("id", "note", "status", "n")

  test("sed cleanup: quotes become apostrophes, padded pipes become dashes") {
    val got = WarehouseWriter.sedCleanup(fixture)
      .orderBy($"id").select($"note").as[String].collect()
    assert(got(1) == "has 'quotes' inside")
    assert(got(2) == "pipe - in - the middle")
    assert(got(3) == "both ' and - mixed")   // bare | (no padding) untouched by ' | ' rule
  }

  test("pipe-delimited sink round-trips the cleaned frame (S3+S4)") {
    val dir = tmp("graft-pipe")
    WarehouseWriter.pipeDelimited(fixture, dir)
    val back = spark.read
      .schema(StructType(Seq(
        StructField("id", LongType), StructField("note", StringType),
        StructField("status", StringType), StructField("n", IntegerType))))
      .option("sep", "|").option("header", "false").csv(dir)
    val exp = WarehouseWriter.sedCleanup(fixture)
    assert(back.count() == 4)
    assert(back.exceptAll(exp).isEmpty && exp.exceptAll(back).isEmpty)
  }

  test("header CSV sink round-trips with inferred header (S9)") {
    val dir = tmp("graft-csv")
    WarehouseWriter.headerCsv(fixture, dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(dir)
    assert(back.columns.toSeq == fixture.columns.toSeq)
    assert(back.count() == 4)
    // quoted CSV preserves raw content exactly — no sed needed on this path
    val note2 = back.filter($"id" === 2).select($"note").as[String].head()
    assert(note2 == "has \"quotes\" inside")
  }

  test("warehouse table: overwrite + drop-if-exists semantics (S5/S6/S7)") {
    WarehouseWriter.saveTable(fixture, "ctgov_test")
    val first = spark.table("ctgov_test")
    assert(first.count() == 4)
    // rerun with different content must fully replace (DROP+CREATE+load)
    WarehouseWriter.saveTable(fixture.filter($"id" <= 2), "ctgov_test")
    assert(spark.table("ctgov_test").count() == 2)
    WarehouseWriter.dropIfExists(spark, "ctgov_test")
    assert(!spark.catalog.tableExists("ctgov_test"))
    WarehouseWriter.dropIfExists(spark, "ctgov_test") // idempotent
  }

  test("jdbc sink round-trips through an embedded Derby warehouse (S5)") {
    // Derby ships with Spark's jar set; an in-memory DB exercises the
    // exact write path (batched INSERT stream per partition) the
    // reference's `db2 load` maps to — swap the URL for a real
    // warehouse in production.
    val url = "jdbc:derby:memory:graftwh;create=true"
    WarehouseWriter.saveJdbc(fixture, url, "CTGOV_JDBC")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "CTGOV_JDBC").load()
    assert(back.count() == 4)
    assert(back.columns.sorted.toSeq == fixture.columns.sorted.toSeq)
    val note2 = back.filter($"id" === 2).select($"note").as[String].head()
    assert(note2 == "has \"quotes\" inside")
    // overwrite semantics hold on the jdbc path too (S7)
    WarehouseWriter.saveJdbc(fixture.filter($"id" <= 1), url, "CTGOV_JDBC")
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "CTGOV_JDBC").load().count() == 1)
  }

  test("jdbc scan seam (S1): filters push down to the external database") {
    // the reference's S1 is a server-side-filtered client query
    // (ct_data.py:84-88 — every predicate runs in Postgres); Spark's
    // jdbc source keeps that contract: the filter must appear as a
    // pushed predicate on the scan, not a Spark-side Filter over a full
    // table pull
    val url = "jdbc:derby:memory:graftscan;create=true"
    WarehouseWriter.saveJdbc(fixture, url, "CTGOV_SCAN")
    val scanned = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "CTGOV_SCAN").load()
      .filter($"n" > 15).select($"id", $"n")
    assert(scanned.count() == 3)
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [*IsNotNull(n), *GreaterThan(n,15)]") ||
      (plan.contains("PushedFilters") && plan.contains("GreaterThan(n,15)")),
      s"jdbc scan lost its pushed filter:\n$plan")
  }

  test("jsonl corpus sink/source round-trips the documents table, plain and gzip") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    for (codec <- Seq("none", "gzip")) {
      val dir = tmp(s"graft-jsonl-$codec")
      WarehouseWriter.saveJsonl(docs, dir, codec)
      val back = WarehouseWriter.readJsonl(spark, dir, docs.schema)
      assert(back.count() == docs.count())
      assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty,
        s"jsonl round-trip drifted under codec=$codec")
    }
  }

  test("jsonl source surfaces malformed lines as _corrupt_record, not a job failure") {
    val dir = tmp("graft-jsonl-bad")
    Files.writeString(java.nio.file.Paths.get(dir, "part-000.jsonl"),
      """{"doc_id": 1, "text": "good line"}
        |not json at all {{{
        |{"doc_id": 2, "text": "also good"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val back = WarehouseWriter.readJsonl(spark, dir, schema).cache()
    assert(back.count() == 3)
    assert(back.filter($"_corrupt_record".isNotNull).count() == 1)
    assert(back.filter($"doc_id".isNotNull).count() == 2)
  }

  test("compactParquet folds a many-file append dir into the target shape") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text", $"source")
    val dir = tmp("graft_compact")
    // simulate a streaming sink's debt: many micro-batch appends, each
    // a handful of files
    (0L until 10L).foreach { i =>
      docs.filter($"doc_id" % 10 === i).repartition(3)
        .write.mode("append").parquet(dir)
    }
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles() = fs.listStatus(hp)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-")).toSeq
    assert(partFiles().size >= 20, "fixture should start fragmented")
    val before = spark.read.parquet(dir).collect().map(_.toSeq).toSet

    val (nBefore, nAfter, bytes) =
      WarehouseWriter.compactParquet(spark, dir, targetFileBytes = 1L << 30)
    assert(nBefore >= 20, "reported input census must see the fragmentation")
    assert(nAfter == 1 && partFiles().size == 1,
      "everything fits one target-sized file")
    assert(bytes > 0)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == before,
      "compaction must not change the relation")
    // no swap debris left behind
    assert(!fs.exists(new org.apache.hadoop.fs.Path(hp.getParent,
      s".${hp.getName}.compact-tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(hp.getParent,
      s".${hp.getName}.compact-old")))
  }

  test("compactParquet sortCol restores disjoint per-file key ranges") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val dir = tmp("graft_compact_sorted")
    (0L until 8L).foreach { i =>
      docs.filter($"doc_id" % 8 === i)
        .write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    // small target → several output files, each covering a disjoint
    // doc_id range (the zone-map layout the scan pushdown prunes on)
    WarehouseWriter.compactParquet(spark, dir, targetFileBytes = 64L << 10,
      sortCol = Some("doc_id"))
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(hp)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).toSeq
    assert(parts.size > 1, "fixture should need several target-sized files")
    val ranges = parts.map { p =>
      val r = spark.read.parquet(p).agg(
        min($"doc_id").as("lo"), max($"doc_id").as("hi")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file ranges overlap: $ranges")
      case _ => ()
    }
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == before)
  }

  test("compactParquet heals a crashed swap before folding") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val dir = tempDir("graft_compact_heal").resolve("data").toString
    (0L until 4L).foreach { i =>
      docs.filter($"doc_id" % 4 === i).write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    // a compaction that died inside its delete→install window: the
    // target is gone, its rewrite committed (with _SUCCESS) at the tmp
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swapTmp = new org.apache.hadoop.fs.Path(hp.getParent,
      s".${hp.getName}.swap-tmp")
    spark.read.parquet(dir).write.parquet(swapTmp.toString)
    fs.delete(hp, true)
    val (nBefore, nAfter, _) =
      WarehouseWriter.compactParquet(spark, dir, targetFileBytes = 1L << 30)
    assert(nBefore > 1 && nAfter == 1,
      s"the next compaction must fold the healed files: $nBefore -> $nAfter")
    assert(!fs.exists(swapTmp), "the committed tmp must be installed")
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == before)
  }

  test("overwriteParquetAtomic installs new contents; recoverSwap heals a torn swap") {
    val dir = tmp("graft_atomic") + "/artifact"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readIds() = spark.read.parquet(dir).select($"id").as[Long].collect().toSet

    WarehouseWriter.overwriteParquetAtomic(spark, dir)(
      spark.range(3).select($"id").write.parquet(_)) // target absent → plain install
    assert(readIds() == Set(0L, 1L, 2L))
    WarehouseWriter.overwriteParquetAtomic(spark, dir)(
      spark.range(10, 14).select($"id").write.parquet(_)) // target present → swap
    assert(readIds() == Set(10L, 11L, 12L, 13L))
    // no stranded tmp in the healthy path
    val tmpPath = new org.apache.hadoop.fs.Path(hp.getParent, s".${hp.getName}.swap-tmp")
    assert(!fs.exists(tmpPath))
    // a write that fails after landing data leaves the target as it
    // was, and neither its stage nor a tmp the next read could install
    intercept[IllegalStateException] {
      WarehouseWriter.overwriteParquetAtomic(spark, dir) { t =>
        spark.range(5).select($"id").write.parquet(t)
        throw new IllegalStateException("sidecar write failed")
      }
    }
    assert(readIds() == Set(10L, 11L, 12L, 13L))
    assert(!fs.exists(tmpPath) && fs.listStatus(hp.getParent)
      .forall(!_.getPath.getName.contains("swap")))

    // torn swap: new contents fully committed at the tmp path, target
    // already deleted, crash before the install rename
    spark.range(20, 22).select($"id")
      .write.mode("overwrite").parquet(tmpPath.toString)
    fs.delete(hp, true)
    WarehouseWriter.recoverSwap(spark, dir)
    assert(readIds() == Set(20L, 21L))
    assert(!fs.exists(tmpPath))
    // healthy state → no-op (target intact, tmp absent)
    WarehouseWriter.recoverSwap(spark, dir)
    assert(readIds() == Set(20L, 21L))
    // an UNcommitted tmp (no _SUCCESS) is never installed
    fs.delete(tmpPath, true)
    fs.mkdirs(tmpPath)
    fs.delete(hp, true)
    WarehouseWriter.recoverSwap(spark, dir)
    assert(!fs.exists(hp), "recoverSwap must not install a partial tmp")
  }

  test("properties config seam parses and renders k=v pairs (S2)") {
    val f = tempDir("graft_conf").resolve("graft.properties")
    Files.writeString(f, "host=localhost\nport=5432\ndbname=aact\n")
    val conf = Config.fromFile(f.toString)
    assert(conf == Map("host" -> "localhost", "port" -> "5432", "dbname" -> "aact"))
    assert(Config.render(conf) == "dbname=aact host=localhost port=5432")
  }
}
