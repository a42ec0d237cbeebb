package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.RelationalQueries

/** `Tables.footerSchema` reads a table's schema from one parquet footer
  * on the driver: the schema must be the one Spark's own inference gives,
  * for every ts encoding the events table has carried and for Spark's own
  * multi-file layouts, and a validate + load of the whole snapshot must
  * start no Spark job. */
class FooterSchemaSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tempDir(prefix: String)(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach((p: Path) => Files.delete(p))
  }

  private def stage(resource: String, to: Path): Unit = {
    val res = getClass.getResourceAsStream(resource)
    try Files.copy(res, to) finally res.close()
  }

  /** Jobs started while `body` runs. The listener bus delivers events in
    * order, so once a marker job started afterwards has been seen, every
    * job `body` started has been counted. Returns their first stages'
    * names (the call site, e.g. `parquet at Tables.scala:21`). */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val marker = "footer-schema-spec-marker"
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

  private def fieldTypes(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSeq

  test("validate and a load of every table start no Spark job") {
    assert(spark.streams.active.isEmpty, "a stream left running would start jobs")
    val jobs = jobsDuring {
      Tables.validate(spark, sf0001)
      Tables.all.foreach(t => Tables.load(spark, sf0001, t).schema)
    }
    assert(jobs.isEmpty, s"schema reads started ${jobs.size} jobs: $jobs")
  }

  test("footer schema equals Spark's inference for every events ts encoding") {
    tempDir("graft_footer_events") { dir =>
      Seq("/events_nanos.parquet", "/events_utc_instants.parquet",
          "/events_micros_stale_meta.parquet").foreach { res =>
        val p = dir.resolve(res.stripPrefix("/"))
        stage(res, p)
        assert(Tables.footerSchema(spark, p.toString) ==
          spark.read.parquet(p.toString).schema, res)
      }
    }
  }

  test("footer schema equals Spark's inference for a multi-file Spark directory") {
    tempDir("graft_footer_multi") { dir =>
      val p = dir.resolve("t.parquet").toString
      // `id` is non-nullable in the writer's row metadata; the footer
      // keeps that, and the read makes every column nullable either way
      spark.range(0, 40, 1, 4)
        .select($"id", ($"id" * 1.5).as("x"), $"id".cast("string").as("s"),
          expr("timestampadd(SECOND, id, TIMESTAMP_NTZ '2021-01-01 00:00:00')")
            .as("ts"))
        .write.parquet(p)
      assert(Files.list(Paths.get(p)).iterator().asScala
        .count(_.getFileName.toString.startsWith("part-")) == 4)
      val footer = Tables.footerSchema(spark, p)
      val inferred = spark.read.parquet(p).schema
      assert(fieldTypes(footer) == fieldTypes(inferred))
      assert(spark.read.schema(footer).parquet(p).schema == inferred)
    }
  }

  test("a summary footer wins over the data files, as in Spark's inference") {
    tempDir("graft_footer_summary") { dir =>
      val p = dir.resolve("t.parquet")
      spark.range(0, 10, 1, 2).toDF("id").write.parquet(p.toString)
      // a summary is a footer-only parquet file; any parquet file's footer
      // with a wider schema stands in for one here
      val wide = dir.resolve("wide.parquet").toString
      spark.range(0, 1, 1, 1).select($"id", $"id".cast("string").as("extra"))
        .write.parquet(wide)
      val wideFile = Files.list(Paths.get(wide)).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      Seq("_metadata", "_common_metadata").foreach { summary =>
        Files.copy(wideFile, p.resolve(summary))
        val footer = Tables.footerSchema(spark, p.toString)
        assert(footer.fieldNames.toSeq == Seq("id", "extra"), summary)
        assert(fieldTypes(footer) ==
          fieldTypes(spark.read.parquet(p.toString).schema), summary)
      }
    }
  }

  test("an empty or missing path fails with inference's error condition") {
    tempDir("graft_footer_empty") { dir =>
      val empty = intercept[org.apache.spark.sql.AnalysisException] {
        Tables.footerSchema(spark, dir.toString)
      }
      assert(empty.getCondition == "UNABLE_TO_INFER_SCHEMA", empty.getMessage)
      val missing = intercept[org.apache.spark.sql.AnalysisException] {
        Tables.footerSchema(spark, dir.resolve("absent").toString)
      }
      assert(missing.getCondition == "PATH_NOT_FOUND", missing.getMessage)
    }
  }

  test("q26 declares +0.0 for a correlation that rounds to zero from below") {
    tempDir("graft_q26_zero") { dir =>
      // x centered, y = x² − 1e-5·x: corr(x, y) ≈ −5.8e-6, which rounds
      // to zero at 4 decimals — −0.0 in DuckDB unless declared +0.0
      val xs = (-3 to 3).map(_.toDouble)
      xs.map(x => (x + 10, x * x - 1e-5 * x, x * x - 1e-5 * x, x + 10))
        .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .coalesce(1).write.parquet(dir.resolve("lineitem.parquet").toString)
      val li = Tables.load(spark, dir.toString, "lineitem")
      assert(li.selectExpr("corr(l_quantity, l_extendedprice)").first()
        .getDouble(0) < 0, "precondition: the raw correlation is negative")
      def positiveZeros(row: org.apache.spark.sql.Row): Unit =
        (0 until row.length).foreach { i =>
          assert(java.lang.Double.doubleToRawLongBits(row.getDouble(i)) == 0L,
            s"column $i is ${row.getDouble(i)}, not +0.0")
        }
      positiveZeros(RelationalQueries.q26CorrMatrix(spark, dir.toString).first())
      li.createOrReplaceTempView("lineitem")
      try positiveZeros(spark.sql(RelationalQueries.oracle("q26_corr_matrix")).first())
      finally spark.catalog.dropTempView("lineitem")
    }
  }
}
