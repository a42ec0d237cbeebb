package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local session for all suites (one JVM, getOrCreate reuses). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.defaults(SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .config("spark.ui.enabled", "false")
    // the cluster-deployment registration mechanism
    // (--conf spark.sql.extensions=graft.GraftExtensions) — static conf,
    // so it must ride the FIRST session of the JVM; VectorExprSpec
    // asserts the graft_* functions resolve without manual register()
    .config("spark.sql.extensions", "graft.GraftExtensions"))
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
}

trait SparkSpec extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sf0001: String = SparkSpec.sf0001

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh scratch directory under the system temp dir, deleted with
    * everything under it when the suite ends. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(dir => ScratchDir.deleteTree(dir))
    finally super.afterAll()
}
