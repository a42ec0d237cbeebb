package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Config, IniConfig, JdbcIngress, WarehouseWriter}

/** The JDBC INGRESS seam (SURVEY S1's live-connection leg + S2's
  * config-driven connection) against an embedded Derby warehouse loaded
  * from the fixture tables: row-identity with [[Tables.load]], filter
  * pushdown reaching the JDBCRelation, the query-driven extract
  * (reference ct_data.py:69-97), striped parallel ingress, and the
  * jdbc→parquet snapshot hop.
  */
class JdbcIngressSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** One Derby in-memory DB per suite run, loaded once from the
    * sf0.001 dimension tables (nation: 25 rows, region: 5). */
  private lazy val url: String = {
    val u = "jdbc:derby:memory:graftingress;create=true"
    WarehouseWriter.saveJdbc(Tables.load(spark, sf0001, "nation"), u, "NATION")
    WarehouseWriter.saveJdbc(Tables.load(spark, sf0001, "region"), u, "REGION")
    u
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("readTable is row-identical to the parquet snapshot loader") {
    val viaJdbc = JdbcIngress.readTable(spark, url, "NATION")
      .select($"n_nationkey", $"n_name", $"n_regionkey")
    val viaParquet = Tables.load(spark, sf0001, "nation")
      .select($"n_nationkey", $"n_name", $"n_regionkey")
    assert(viaJdbc.count() == 25)
    assert(sameRows(viaJdbc, viaParquet),
      "jdbc ingress drifted from the snapshot it was loaded from")
  }

  test("filters and projections push down to the database") {
    // the reference runs every WHERE clause server-side
    // (ct_data.py:84-88); the seam must keep that contract — the
    // predicate appears as a pushed filter on the JDBCRelation scan,
    // and the projection narrows the remote SELECT, not a Spark-side
    // Filter/Project over a full table pull
    val scanned = JdbcIngress.readTable(spark, url, "NATION")
      .filter($"n_regionkey" > 2).select($"n_nationkey", $"n_regionkey")
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(n_regionkey,2)"),
      s"jdbc ingress lost its pushed filter:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("n_name"),
      s"jdbc ingress reads a column the query never uses:\n$plan")
    assert(scanned.count() ==
      Tables.load(spark, sf0001, "nation").filter($"n_regionkey" > 2).count())
  }

  test("query-driven extract: the whole statement executes server-side") {
    // ct_data.py's shape — a join + aggregate shipped INTO the
    // database, only the result set crossing the wire
    val got = JdbcIngress.readQuery(spark, url,
      // saveJdbc creates columns as quoted (case-exact) identifiers and
      // maps strings to CLOB (not groupable in Derby), so the
      // server-side statement quotes AND casts — warehouse-dialect
      // quirks belong in the shipped SQL, that is the point of the seam
      """SELECT CAST(REGION."r_name" AS VARCHAR(32)) AS "r_name",
        |       COUNT(*) AS "n_nations"
        |FROM NATION JOIN REGION ON NATION."n_regionkey" = REGION."r_regionkey"
        |GROUP BY CAST(REGION."r_name" AS VARCHAR(32))""".stripMargin)
    val exp = Tables.load(spark, sf0001, "nation")
      .join(Tables.load(spark, sf0001, "region"),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name").agg(count(lit(1)).as("n_nations"))
    assert(sameRows(got.select($"r_name", $"n_nations".cast("long")),
      exp.select($"r_name", $"n_nations")))
  }

  test("striped ingress: N concurrent cursors, same rows as one") {
    val striped = JdbcIngress.readTablePartitioned(spark, url, "NATION",
      "n_nationkey", lower = 0L, upper = 24L, numPartitions = 4)
    assert(striped.rdd.getNumPartitions == 4,
      "striped ingress must open one cursor per stripe")
    assert(sameRows(
      striped.select($"n_nationkey", $"n_name", $"n_regionkey"),
      JdbcIngress.readTable(spark, url, "NATION")
        .select($"n_nationkey", $"n_name", $"n_regionkey")))
  }

  test("config-driven connection: IniConfig url + passthrough properties") {
    val f = tempDir("graft_jdbc_conf").resolve("aact.properties")
    Files.writeString(f,
      s"""# aact.properties twin — url leg (embedded target)
         |[aact.database]
         |url=$url
         |[graft]
         |data.dir=/root/testdata/sf0.001
         |""".stripMargin)
    val cfg = Config.loadIni(f.toString)
    assert(cfg.jdbcUrl == url)
    val got = JdbcIngress.readConfigured(spark, cfg, "REGION")
    assert(got.count() == 5)
    // the mains' @file seam resolves to the config's data dir
    assert(Config.resolveDir(s"@$f") == "/root/testdata/sf0.001")
    assert(Config.resolveDir("/plain/dir") == "/plain/dir")
  }

  test("IniConfig parses the reference's sectioned format and builds the pg url") {
    val cfg = Config.parseIni(Seq(
      "; ConfigParser-style file",
      "[aact.database]",
      "HOST = db.example.org",
      "port: 6543",
      "dbname=aact",
      "user=ctgov",
      "password=s3cret",
      "[graft]",
      "data.dir = /data/snap"))
    assert(cfg.jdbcUrl == "jdbc:postgresql://db.example.org:6543/aact")
    val p = cfg.connectionProperties
    assert(p.getProperty("user") == "ctgov" &&
      p.getProperty("password") == "s3cret" && p.size() == 2)
    assert(cfg.dataDir.contains("/data/snap"))
  }

  test("snapshot hop: jdbc extract lays down the Tables.load layout") {
    val out = tempDir("graft-jdbc-snap").toString
    JdbcIngress.snapshotFromJdbc(spark, url, Seq("NATION", "REGION"), out,
      striped = Map("NATION" -> (("n_nationkey", 0L, 24L, 4))))
    val nation = spark.read.parquet(s"$out/NATION.parquet")
    assert(nation.count() == 25)
    assert(sameRows(
      nation.select($"n_nationkey", $"n_name", $"n_regionkey"),
      Tables.load(spark, sf0001, "nation")
        .select($"n_nationkey", $"n_name", $"n_regionkey")))
    assert(spark.read.parquet(s"$out/REGION.parquet").count() == 5)
  }
}
