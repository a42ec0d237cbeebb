package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.EmbeddingQueries

/** The PQ index artifact's on-disk format, pinned on the artifact the
  * declared q91 lifecycle query builds at sf0.001 (build, three
  * fragment appends, compaction): the parquet schema of every data file
  * and the exact bytes of the `_pq_codebooks` sidecar. Both are read
  * straight off disk, so the pin holds the format itself, not a round
  * trip through the writer: a build or append route that writes a
  * different schema, or a codebook fit or sidecar writer that moves one
  * bit, fails here. */
class PqArtifactFormatSpec extends AnyFunSuite with SparkSpec {

  private val dataSchema = Seq(
    "message spark_schema {",
    "  optional int64 cand_id;",
    "  optional double d2;",
    "  optional group codes (LIST) {",
    "    repeated group list {",
    "      required int32 element;",
    "    }",
    "  }",
    "  optional int32 iv_cells;",
    "  optional int32 iv_cap;",
    "  optional int64 iv_ck;",
    "  optional int64 pq_ck;",
    "}")

  private val sidecarHead = Seq("graft-pq-codebooks\t1",
    "params\t8\t8\t16\t1949810333380401419\t1")

  private val sidecarSha256 =
    "b851034d3aaa9f9bf5098d0a1e20c79f694cfd4591b74d093d5dd6deaaedbcf7"

  /** The `graft_q91*` scratch directories under the temp dir. */
  private def q91Dirs(): Set[Path] = {
    val s = Files.newDirectoryStream(
      Paths.get(System.getProperty("java.io.tmpdir")), "graft_q91*")
    try s.iterator().asScala.toSet finally s.close()
  }

  test("pq artifact format: data-file schema and codebook sidecar bytes") {
    val before = q91Dirs()
    EmbeddingQueries.q91PqPostingsLifecycle(spark, sf0001)
    val built = (q91Dirs() -- before).toSeq
    assert(built.size == 1, s"q91 scratch dirs made: $built")
    val art = built.head.resolve("pq_postings")

    val walk = Files.walk(art)
    val parts =
      try walk.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toVector
      finally walk.close()
    assert(parts.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    val schemas = parts.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString), conf))
      try r.getFooter.getFileMetaData.getSchema.toString.trim
      finally r.close()
    }.distinct
    assert(schemas == Seq(dataSchema.mkString("\n")))

    val bytes = Files.readAllBytes(art.resolve("_pq_codebooks"))
    val lines = new String(bytes, "UTF-8").split("\n").toSeq
    assert(lines.take(2) == sidecarHead)
    assert(lines.length == 2 + 8 * 16)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map(b => f"$b%02x").mkString
    assert(sha == sidecarSha256)
  }
}
