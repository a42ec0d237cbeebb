package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ManifestFileIndex

/** Pins the REUSABLE half of the manifest-read seam — the two
  * generalizations [[graft.plans.PostingsFileIndex]] (single int
  * partition column) does not itself exercise:
  *
  *  1. FLAT artifacts: an empty partition schema + one group, the shape
  *     the exact-hash / winnow / band / bloom families would hand over
  *     when they adopt manifest sidecars;
  *  2. MULTI-COLUMN partition schemas: predicate binding is BY NAME per
  *     attribute, so filters over either (or both) columns prune groups
  *     independently of column order.
  *
  * Both legs assert row equality with the discovering read AND the
  * zero-listing property's observable half (the planned file set comes
  * from the index, so withholding a file from the groups hides it from
  * the scan — a directory listing would have found it). */
class ManifestFileIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def listParts(dir: String, sub: String = ""): Seq[(Path, Long)] = {
    val p = new Path(if (sub.isEmpty) dir else s"$dir/$sub")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(f => (f.getPath, f.getLen)).toSeq
  }

  test("flat artifact: empty partition schema serves the discovering read's rows") {
    val dir = tempDir("graft_mfi_flat").toString
    val df = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"source")
    df.repartition(3).write.mode("overwrite").parquet(dir)
    val files = listParts(dir)
    assert(files.size >= 2, "fixture must span multiple files")
    val idx = new ManifestFileIndex(new Path(dir), StructType(Nil),
      Seq((InternalRow.empty, files)))
    val viaIndex = org.apache.spark.sql.GraftColumnBridge
      .parquetOverFileIndex(spark, idx, StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType))))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, String)].collect().toSet
    assert(rows(viaIndex) == rows(spark.read.parquet(dir)))
    assert(idx.sizeInBytes == files.map(_._2).sum)
    // the scan plans from the INDEX, not a listing: withholding a file
    // hides its rows (a discovered read would include them)
    val withheld = new ManifestFileIndex(new Path(dir), StructType(Nil),
      Seq((InternalRow.empty, files.tail)))
    val partial = org.apache.spark.sql.GraftColumnBridge
      .parquetOverFileIndex(spark, withheld, StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType))))
    assert(partial.count() < viaIndex.count(),
      "a withheld manifest entry must be invisible to the scan")
  }

  test("multi-column partition schema: by-name binds prune on either column") {
    val dir = tempDir("graft_mfi_2col").toString
    val df = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text",
        ($"doc_id" % 2).cast("int").as("shard"),
        ($"doc_id" % 3).cast("int").as("bucket"))
    df.write.mode("overwrite").partitionBy("shard", "bucket").parquet(dir)
    val schema = StructType(Seq(
      StructField("shard", IntegerType), StructField("bucket", IntegerType)))
    val groups = for (s <- 0 to 1; b <- 0 to 2) yield
      (InternalRow(s, b), listParts(dir, s"shard=$s/bucket=$b"))
    val idx = new ManifestFileIndex(new Path(dir), schema, groups)
    val viaIndex = org.apache.spark.sql.GraftColumnBridge
      .parquetOverFileIndex(spark, idx, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select($"doc_id").as[Long].collect().toSet
    spark.catalog.refreshByPath(dir)
    val discovered = spark.read.parquet(dir)
    assert(ids(viaIndex) == ids(discovered))
    // prune on the SECOND column alone — by-name binding means column
    // order in the schema must not matter
    val byBucket = viaIndex.filter($"bucket" === 1)
    assert(ids(byBucket) == ids(discovered.filter($"bucket" === 1)))
    assert(byBucket.select(input_file_name()).distinct().as[String]
      .collect().forall(_.contains("bucket=1")),
      "bucket filter must read only bucket=1 files")
    // and on both columns together
    val both = viaIndex.filter($"shard" === 0 && $"bucket" === 2)
    assert(ids(both) == ids(discovered.filter($"shard" === 0 && $"bucket" === 2)))
    assert(both.select(input_file_name()).distinct().as[String]
      .collect().forall(f => f.contains("shard=0") && f.contains("bucket=2")))
  }
}
