package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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

  /** Jobs started while `body` runs, each named by the call site of the
    * SQL execution that started it (e.g. `parquet at FlatIndex.scala:102`),
    * or by its first stage's name when it ran outside one. AQE submits
    * a query's shuffle stages from its own thread pool, so their first
    * stages carry that pool's frame (`$anonfun$withThreadLocalCaptured$2
    * at CompletableFuture.java:1768`); the execution's start event keeps
    * the call site of the action that planned it. */
  def jobsDuring(body: => Unit): Seq[String] = {
    val seen = recordDuring(body)
    seen.jobs.map(j => j.execution.flatMap(seen.sites.get).getOrElse(j.stage))
  }

  /** Shuffle bytes written (`shuffleWriteMetrics.bytesWritten`) by the
    * tasks of the jobs `body` starts. */
  def shuffleWriteBytesDuring(body: => Unit): Long = {
    val seen = recordDuring(body)
    val stages = seen.jobs.flatMap(_.stageIds).toSet
    seen.shuffleWrite.collect { case (s, b) if stages(s) => b }.sum
  }

  private case class Job(execution: Option[String], stage: String,
      stageIds: Seq[Int])
  private case class Recorded(jobs: Seq[Job], sites: Map[String, String],
      shuffleWrite: Map[Int, Long])

  /** What the listener bus delivers while `body` runs: the jobs it
    * starts, the call site of each SQL execution, and the shuffle bytes
    * each stage's tasks write. The bus delivers events in order, so
    * once a marker job started afterwards has been seen, every job
    * `body` started, and every task it ran, has been counted. */
  private def recordDuring(body: => Unit): Recorded = {
    val marker = "spark-spec-jobs-marker"
    val sites = new ConcurrentHashMap[String, String]()
    val started = new ConcurrentLinkedQueue[(String, Job)]()
    val written = new ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sites.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        started.add((prop("spark.job.description").getOrElse(""),
          Job(prop(SQLExecution.EXECUTION_ID_KEY),
            e.stageInfos.headOption.fold("")(_.name), e.stageIds)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          written.merge(e.stageId, m.shuffleWriteMetrics.bytesWritten,
            (a, b) => a + b)
        }
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
      Recorded(started.asScala.toSeq.filter(_._1 != marker).map(_._2),
        sites.asScala.toMap,
        written.asScala.map { case (s, b) => (s, b.longValue) }.toMap)
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
