package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Jobs started while `body` runs. The listener bus delivers events in
    * order, so once a marker job started afterwards has been seen, every
    * job `body` started has been counted. Returns their first stages'
    * names (the call site, e.g. `parquet at Tables.scala:21`). */
  def jobsDuring(body: => Unit): Seq[String] = {
    val marker = "spark-spec-jobs-marker"
    val started = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("") -> e.stageInfos.headOption.fold("")(_.name))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.asScala.exists(_._1 == marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.asScala.exists(_._1 == marker),
        "the listener bus never delivered the marker job")
      started.asScala.toSeq.filter(_._1 != marker).map(_._2)
    } finally sc.removeSparkListener(listener)
  }

  /** Drops the suite's temp dirs and every cache it left in the shared
    * session: a later suite must plan over the files, not over an
    * `InMemoryRelation` this one cached (`Spread` spreads only scans,
    * so plan-shape and job-count pins would depend on suite order). */
  override protected def afterAll(): Unit =
    try {
      spark.catalog.clearCache()
      tempDirs.forEach(dir => ScratchDir.deleteTree(dir))
    } finally super.afterAll()
}
