package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotIngest

/** LIVE-PostgreSQL round-trip — the last composed-not-demonstrated leg
  * of the S1/S8 ingress story, run against a REAL server when the host
  * provides the PostgreSQL toolchain (this sandbox ships 15.x;
  * elsewhere the suite cancels via `assume`, it never silently
  * passes).
  *
  * What runs: a throwaway cluster (initdb + pg_ctl under the
  * unprivileged `postgres` system user, unix socket only — postgres
  * refuses root, and no TCP port is taken), then the reference's OWN
  * documented flow in both directions:
  *
  *  1. Spark fixture tables → pipe-delimited CSV → `\copy FROM` into
  *     live Postgres (the `init-user-db.sh` bulk-load direction);
  *  2. `\copy ... TO` per-table pipe-delimited export → the dump tree
  *     shape AACT publishes (`db2wh-etl.sh`'s flat files) →
  *     [[SnapshotIngest.ingest]] with the DECLARED schemas, header
  *     preflight included → row identity with the original fixture.
  *
  * Plus the one S1 seam no embedded-Derby test can close: the stripe
  * WHERE clauses `jdbcStripePredicates` renders under the Postgres
  * dialect are EXECUTED by the live server, and the stripes must
  * partition the table exactly (counts disjoint-sum to the total) —
  * `ct_data.py:69-97`'s striped-cursor parity, predicate semantics
  * verified by Postgres itself. (The JDBC cursor mechanics stay pinned
  * against Derby in JdbcIngressSpec: the sandbox has no Postgres JDBC
  * jar and zero egress — the dialect/URL half lives in
  * PostgresDialectSpec, and this suite closes the server-side half.)
  */
class PgLiveSpec extends AnyFunSuite with SparkSpec {
  import scala.sys.process._
  import spark.implicits._

  private def haveBin(b: String): Boolean =
    Seq("sh", "-c", s"command -v $b >/dev/null 2>&1").! == 0

  private def quiet = ProcessLogger(_ => (), _ => ())

  /** Run a shell command as the unprivileged postgres system user. */
  private def asPg(cmd: String): Int =
    Seq("su", "-s", "/bin/sh", "postgres", "-c", cmd).!(quiet)

  private def pgTypeOf(dt: DataType): String = dt match {
    case IntegerType => "integer"
    case LongType => "bigint"
    case StringType => "text"
    case DoubleType => "double precision"
    case FloatType => "real"
    case BooleanType => "boolean"
    case TimestampNTZType => "timestamp"
    case other => fail(s"no Postgres mapping for $other")
  }

  test("live Postgres: bulk load, flat-file export, SnapshotIngest, striped counts") {
    assume(System.getProperty("user.name") == "root" &&
      Seq("sh", "-c", "id -u postgres >/dev/null 2>&1").! == 0 &&
      haveBin("initdb") && haveBin("pg_ctl") && haveBin("psql"),
      "no local PostgreSQL toolchain + postgres user — live leg skipped")

    val base = tempDir("graft_pglive")
      .toFile.getAbsolutePath
    val data = s"$base/data"
    val sock = s"$base/sock"
    val exportDir = s"$base/export"
    val snapDir = s"$base/snapshot"
    Seq(sock, exportDir, snapDir).foreach(d =>
      new java.io.File(d).mkdirs())
    // the export dir is written by the SERVER process (postgres user),
    // the load files are read by it — world-readable/writable scratch
    Seq("chmod", "-R", "777", base).!(quiet)
    Seq("chown", "postgres", base, sock).!(quiet)

    def psql(sql: String): String =
      Seq("psql", "-h", sock, "-U", "graft", "-d", "postgres",
        "-v", "ON_ERROR_STOP=1", "-tA", "-c", sql).!!(quiet).trim

    var started = false
    try {
      assert(asPg(s"initdb -D $data -U graft -A trust --no-sync " +
        s">$base/initdb.log 2>&1") == 0, "initdb failed")
      assert(asPg(s"pg_ctl -D $data -l $base/server.log -w " +
        s"""-o "-c listen_addresses='' -c unix_socket_directories=$sock -c fsync=off" """ +
        "start") == 0, "pg_ctl start failed")
      started = true
      assert(psql("SELECT 1") == "1", "live server must answer")

      // ---- leg 1: Spark → CSV → \copy FROM (the bulk-load direction)
      val tables = Seq("region", "supplier", "orders")
      val fixtures = tables.map(t =>
        t -> Tables.load(spark, sf0001, t)).toMap
      fixtures.foreach { case (t, df) =>
        val ddlCols = df.schema.fields
          .map(f => s"${f.name} ${pgTypeOf(f.dataType)}").mkString(", ")
        psql(s"CREATE TABLE $t ($ddlCols)")
        val outDir = s"$base/spark_out_$t"
        df.coalesce(1).write
          .option("sep", "|").option("header", "true")
          .option("emptyValue", "")
          .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss")
          .csv(outDir)
        val part = new java.io.File(outDir).listFiles()
          .find(_.getName.startsWith("part-")).get.getAbsolutePath
        Seq("chmod", "644", part).!(quiet)
        psql(s"\\copy $t FROM '$part' WITH (FORMAT csv, DELIMITER '|', " +
          "HEADER true, NULL '')")
        assert(psql(s"SELECT count(*) FROM $t").toLong == df.count(),
          s"live load of $t must carry every row")
      }

      // ---- leg 2: \copy TO → dump tree → SnapshotIngest (S8's flow)
      // timestamps export ISO-with-T so the declared-schema FAILFAST
      // read parses them (pg's default space separator would not)
      def exportSelect(t: String): String = {
        val cols = fixtures(t).schema.fields.map { f =>
          if (f.dataType == TimestampNTZType)
            s"""to_char(${f.name}, 'YYYY-MM-DD"T"HH24:MI:SS') AS ${f.name}"""
          else f.name
        }.mkString(", ")
        s"SELECT $cols FROM $t ORDER BY 1"
      }
      tables.foreach { t =>
        psql(s"\\copy (${exportSelect(t)}) TO '$exportDir/$t.csv' " +
          "WITH (FORMAT csv, DELIMITER '|', HEADER true, NULL '')")
      }
      val specs = tables.map(t =>
        SnapshotIngest.TableSpec(t, fixtures(t).schema))
      // the header preflight runs inside ingest — a live export whose
      // header drifted from the declared schema fails fast there
      val counts = SnapshotIngest.ingest(spark, exportDir, snapDir, specs)
      tables.foreach { t =>
        val orig = fixtures(t)
        val loaded = spark.read.parquet(s"$snapDir/$t.parquet")
        assert(counts(t) == orig.count(), s"$t ingest audit count")
        assert(loaded.exceptAll(orig).isEmpty &&
          orig.exceptAll(loaded).isEmpty,
          s"$t: live round-trip must be row-identical")
      }

      // ---- leg 3: the rendered stripe predicates, executed by the
      // live server — the striped ingress must PARTITION the table
      val keys = fixtures("orders").agg(
        org.apache.spark.sql.functions.min($"o_orderkey"),
        org.apache.spark.sql.functions.max($"o_orderkey")).head()
      val stripes = org.apache.spark.sql.GraftColumnBridge
        .jdbcStripePredicates(
          StructType(Seq(StructField("o_orderkey", LongType))), "UTC",
          Map(
            "url" -> "jdbc:postgresql://localhost:5432/postgres",
            "dbtable" -> "orders",
            // rendering is driver-free; JDBCOptions just needs a
            // resolvable class (same stance as PostgresDialectSpec)
            "driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
            "partitionColumn" -> "o_orderkey",
            "lowerBound" -> keys.getLong(0).toString,
            "upperBound" -> keys.getLong(1).toString,
            "numPartitions" -> "4"))
      assert(stripes.size == 4)
      val stripeCounts = stripes.map(w =>
        psql(s"SELECT count(*) FROM orders WHERE $w").toLong)
      assert(stripeCounts.sum == fixtures("orders").count(),
        s"stripes must partition the table exactly: $stripeCounts")
      assert(stripeCounts.forall(_ > 0),
        s"every stripe of a uniform key should land rows: $stripeCounts")
    } finally {
      if (started) asPg(s"pg_ctl -D $data -m immediate stop")
      Seq("rm", "-rf", base).!(quiet)
    }
  }
}
