package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.ColumnOps._

/** The relational operator suite — every SURVEY.md §2 relational shape
  * re-expressed Spark-first over the driver's star schema.
  *
  * Each query is paired with an ANSI-SQL oracle (DuckDB) in
  * [[RelationalQueries.oracle]]; column names/aliases match exactly on
  * both sides (the driver's comparator sorts columns by name).
  *
  * Float discipline: every floating aggregate is rounded to 4 decimals on
  * BOTH sides so double-summation order differences between engines can't
  * flip the hash.
  */
object RelationalQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  // ---------------------------------------------------------------- q01
  /** Scan → filter → hash-aggregate (SURVEY A1/A4, P5). Single shuffle on
    * the 2-col group key; filter + 5-col projection pushed to parquet.
    *
    * Aggregation is EXACT FIXED-POINT, not `round(sum(double), 4)`: the
    * money columns are 2-decimal fixed-point by construction, so each row
    * converts to integer cents (a per-row, order-free operation) and the
    * sums run in integer/decimal space where addition is associative. The
    * float version died at sf3 in the partition-invariance sweep — a
    * ~1e12-magnitude double sum has ULP ≈ 1e-4, so summation ORDER flips
    * the 4th decimal and no post-hoc rounding can mask it; at 100 TB the
    * sums are another 5 decades past that. Averages use the q58 integer
    * round-half-up identity round(s/n·10⁴) = (2·s·10⁴+n) div (2n) so no
    * engine's float tie-breaking is ever consulted; `div`/DuckDB `//`
    * agree on positive operands. Sums accumulate as DECIMAL(38,0) (cents
    * overflow a 64-bit long at ~10 TB of lineitem; DuckDB's BIGINT sum
    * widens to INT128 the same way). */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "lineitem")
      .filter(to_date($"l_shipdate") <= lit(java.sql.Date.valueOf("1998-09-02")))
      .select(
        $"l_returnflag", $"l_linestatus",
        $"l_quantity".cast("long").as("qty"),
        round($"l_extendedprice" * 100).cast("decimal(38,0)").as("price_c"),
        round($"l_discount" * 100).cast("long").as("disc_c"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"qty").as("sq"),
        sum($"price_c").as("spc"),
        sum($"price_c" * (lit(100) - $"disc_c")).as("sdp4"),
        sum($"disc_c").as("sdc"),
        count(lit(1)).as("n"))
      .select(
        $"l_returnflag", $"l_linestatus",
        $"sq".cast("double").as("sum_qty"),
        ($"spc".cast("double") / 100.0).as("sum_base_price"),
        ($"sdp4".cast("double") / 10000.0).as("sum_disc_price"),
        (expr("(2*sq*10000 + n) div (2*n)").cast("double") / 10000.0).as("avg_qty"),
        (expr("(200*sdc + n) div (2*n)").cast("double") / 10000.0).as("avg_disc"),
        $"n".as("count_order"))
  }

  // ---------------------------------------------------------------- q02
  /** The reference's `interventions_calculated_values` shape
    * (init-user-db.sh:214-232): filter NOT NULL → join → group by
    * lower(name) → countDistinct + min/max dates (SURVEY P10, J7, A2,
    * A5, A9). `part` is dimension-sized → broadcast, so the only shuffle
    * is the final aggregation. */
  def q02TypeRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spread (guide §2.5): the single-split lineitem scan serializes the
    // broadcast-join probe + distinct-expand partial aggregation
    val li = graft.operators.Spread.cpuBound(t(spark, dir, "lineitem"))
    val part = t(spark, dir, "part").filter($"p_type".isNotNull)
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .groupBy(lower($"p_type").as("type_name"))
      .agg(
        countDistinct($"l_orderkey").as("studies"),
        to_date(min($"l_shipdate")).as("first_seen_date"),
        to_date(max($"l_shipdate")).as("last_seen_date"))
  }

  /** A2 scale variant of q02: HLL++ sketch via approx_count_distinct.
    * Exact countDistinct plans an Expand — every input row duplicates
    * per distinct-agg, doubling shuffle volume — and carries the full
    * key set through the shuffle; the sketch is one pass with
    * fixed-size (~kilobytes) state per group, the 100-TB escape hatch
    * when ±rsd on a study count is acceptable. Spec-verified (sketch
    * estimates aren't bit-reproducible across engines, so it is not a
    * declared oracle query); `rsd` is the standard-deviation knob. */
  def q02TypeRollupApprox(spark: SparkSession, dir: String,
      rsd: Double = 0.05): DataFrame = {
    import spark.implicits._
    // spread (guide §2.5): the single-split lineitem scan serializes the
    // broadcast-join probe + distinct-expand partial aggregation
    val li = graft.operators.Spread.cpuBound(t(spark, dir, "lineitem"))
    val part = t(spark, dir, "part").filter($"p_type".isNotNull)
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .groupBy(lower($"p_type").as("type_name"))
      .agg(
        approx_count_distinct($"l_orderkey", rsd).as("studies"),
        to_date(min($"l_shipdate")).as("first_seen_date"),
        to_date(max($"l_shipdate")).as("last_seen_date"))
  }

  // ---------------------------------------------------------------- q03
  /** The reference's `conditions_calculated_values` (init-user-db.sh:38-120)
    * — its five filtered left-join arms re-expressed as ONE pass of
    * conditional distinct counts (SURVEY J4 ≡ A3) + safe ratio (A7) +
    * null-skipping avg (A4). No join fan, one aggregation shuffle. */
  def q03ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    o.join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        countDistinct(when($"o_orderstatus".isin("F", "O", "P"), $"o_orderkey"))
          .as("total_orders"),
        countDistinct(when($"o_orderstatus" === "F", $"o_orderkey"))
          .as("completed_orders"),
        countDistinct(when($"o_orderstatus" === "P", $"o_orderkey"))
          .as("pending_orders"),
        countDistinct(when($"o_orderstatus" === "O", $"o_orderkey"))
          .as("open_orders"),
        round(avg(when($"o_orderstatus" === "F" && $"o_orderpriority" =!= "1-URGENT",
          $"o_totalprice")), 4).as("avg_completed_price"))
      .withColumn("completion_ratio",
        round(safeDiv($"completed_orders", $"completed_orders" + $"pending_orders"), 4))
  }

  // ---------------------------------------------------------------- q04
  /** Multi-substring classifier + bool_or rollup (SURVEY F3, A6) — the
    * oncology-flag shape: flag parts whose name contains any term, roll
    * the flag up per order with bool_or, then count flagged orders per
    * priority. Two aggregations; the first groups on the join key so AQE
    * can keep it local after the broadcast join. */
  val flagTerms: Seq[String] = Seq("green", "blue", "ivory", "midnight")

  def q04MultiSubstringFlag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = t(spark, dir, "lineitem")
    val part = t(spark, dir, "part")
      .withColumn("flagged", anyTerm(lower($"p_name"), flagTerms))
    val o = t(spark, dir, "orders")
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .groupBy($"l_orderkey")
      .agg(bool_or($"flagged").as("has_flagged_part"))
      .join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        count(when($"has_flagged_part", lit(1))).as("n_flagged_orders"))
  }

  // ---------------------------------------------------------------- q05
  /** The dashboard extract (reference db2wh-etl.sh:73-107): left-outer
    * join chain + boolean→'t'/'f' chars + the sed text cleanup as
    * regexp_replace (SURVEY J3, S4). Row-level output. */
  def q05DashboardExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    o.join(c, $"o_custkey" === $"c_custkey", "left_outer")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey", "left_outer")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey", "left_outer")
      .select(
        $"o_orderkey",
        $"o_orderstatus",
        year($"o_orderdate").cast("int").as("order_year"),
        regexp_replace(regexp_replace($"c_name", "\"", "'"), " \\| ", " - ")
          .as("customer_name"),
        $"n_name",
        $"r_name",
        when($"c_mktsegment".isin("BUILDING", "AUTOMOBILE"), "t").otherwise("f")
          .as("segment_flag"))
  }

  // ---------------------------------------------------------------- q06
  /** The feature-extract star (reference ct_data.py:72-151): star join +
    * pre-aggregated rollups joined back (instead of the reference's
    * fan-out + 16-col GROUP BY), categorical when-chain encodings with
    * pandas last-write-wins semantics, CASE+LIKE stage, coalesce,
    * year extraction, bucketize (SURVEY J1/J2, F1/F2/F8/F10, M3). */
  def q06StarFeatures(spark: SparkSession, dir: String): DataFrame =
    starFeatures(spark, dir, salt = 0)

  /** q06 with the lineitem-rollup leg routed through
    * [[graft.operators.Joins.saltedJoin]] — the opt-in for deployments
    * where one hot order key defeats AQE skew splitting (SURVEY §7.2
    * slice 5). Results are identical to [[q06StarFeatures]]
    * (spec-asserted); only the shuffle keys change to
    * (o_orderkey, salt). */
  def q06StarFeaturesSalted(spark: SparkSession, dir: String,
      salt: Int = 8): DataFrame =
    starFeatures(spark, dir, salt)

  private def starFeatures(spark: SparkSession, dir: String,
      salt: Int): DataFrame = {
    import spark.implicits._
    // spread (guide §2.5): both fact scans are single-split locally —
    // the per-order collect_set partials and the dims join probe
    // serialize without it; identity at scale
    val o = graft.operators.Spread.cpuBound(t(spark, dir, "orders"))
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    // Pre-aggregate the fan-out side once, keyed on the join key: the
    // rollup shuffle IS the join shuffle (no row multiplication).
    // Two countDistinct on DIFFERENT columns would plan an Expand —
    // every lineitem row duplicated once per distinct group, 3× the
    // shuffle volume. size(collect_set(...)) is exact distinct without
    // the expand, and is safe here because the group is one order:
    // set cardinality is bounded by lineitems-per-order (≤ 7), not by
    // corpus size. (For unbounded groups — q08's brand×nation — the
    // expand or the HLL variant is the right tool instead.)
    val liStats = graft.operators.Spread.cpuBound(t(spark, dir, "lineitem"))
      .groupBy($"l_orderkey")
      .agg(
        count(lit(1)).as("li_count"),
        size(collect_set($"l_suppkey")).cast("long").as("supplier_count"),
        size(collect_set($"l_partkey")).cast("long").as("part_count"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("revenue"))

    // pandas .loc ladder (program order; later writes win). The
    // 'HIGH'-in-'2-HIGH' overlap mirrors the reference's
    // randomized/non-randomized substring trap (ct_data.py:127-131).
    val priorityCode = lastWriteWins(
      Seq(
        $"o_orderpriority".contains("URGENT") -> lit(1),
        $"o_orderpriority".contains("HIGH") -> lit(2),
        $"o_orderpriority".contains("MEDIUM") -> lit(3),
        $"o_orderpriority".contains("LOW") -> lit(4),
        $"o_orderpriority".contains("NOT SPECIFIED") -> lit(5),
        ($"o_totalprice" < 1000.0) -> lit(9)),
      default = lit(0))

    val dims = o.join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
    val joined =
      if (salt == 0)
        dims.join(liStats, $"o_orderkey" === $"l_orderkey", "left_outer")
      else
        graft.operators.Joins.saltedJoin(dims,
          liStats.withColumnRenamed("l_orderkey", "o_orderkey"),
          "o_orderkey", salt, "left_outer")
    joined
      .select(
        $"o_orderkey",
        coalesce($"li_count", lit(0L)).as("li_count"),
        coalesce($"supplier_count", lit(0L)).as("supplier_count"),
        coalesce($"part_count", lit(0L)).as("part_count"),
        coalesce($"revenue", lit(0.0)).as("revenue"),
        priorityCode.as("priority_code"),
        when($"o_orderpriority".like("%HIGH%"), 1)
          .when($"o_orderpriority".like("%URGENT%"), 2)
          .otherwise(0).as("priority_stage"),
        codeOf($"o_orderstatus", Seq("F" -> 0, "P" -> 1, "O" -> 2)).as("status_code"),
        codeOf($"c_mktsegment",
          Seq("BUILDING" -> 1, "AUTOMOBILE" -> 2, "MACHINERY" -> 3,
            "HOUSEHOLD" -> 4, "FURNITURE" -> 5)).as("segment_code"),
        year($"o_orderdate").cast("int").as("start_epoch"),
        // Bucketizer semantics (splits 1995|1997|1999|2001) as an expression
        when(year($"o_orderdate") < 1997, 0)
          .when(year($"o_orderdate") < 1999, 1)
          .when(year($"o_orderdate") < 2001, 2)
          .otherwise(3).as("epoch_bucket"),
        $"n_name")
  }

  // ---------------------------------------------------------------- q07
  /** The ALTER TABLE + UPDATE-join backfill (reference
    * init-user-db.sh:181-194) as recompute-and-overwrite lineage:
    * left-outer enrichment keeps non-matching rows' new columns NULL
    * (SURVEY J6; §7.4.8). */
  def q07UpdateJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = t(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(
        count(lit(1)).as("order_count"),
        round(sum($"o_totalprice"), 4).as("total_spent"),
        to_date(max($"o_orderdate")).as("last_order_date"))
    t(spark, dir, "customer")
      .join(stats, $"c_custkey" === $"o_custkey", "left_outer")
      .select($"c_custkey", $"c_name", $"c_mktsegment",
        $"order_count", $"total_spent", $"last_order_date")
  }

  // ---------------------------------------------------------------- q08
  /** Co-occurrence rollup (reference interventions_conditions,
    * init-user-db.sh:237-274): two joins → pair group → countDistinct +
    * first/last seen (SURVEY J7, A2, A5, A10). */
  def q08Cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = graft.operators.Spread.cpuBound(t(spark, dir, "lineitem"))
    val part = t(spark, dir, "part")
    val sup = t(spark, dir, "supplier")
    val nat = t(spark, dir, "nation")
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(sup.join(broadcast(nat), $"s_nationkey" === $"n_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"p_brand", $"n_name")
      .agg(
        countDistinct($"l_orderkey").as("studies"),
        to_date(min($"l_shipdate")).as("first_seen_date"),
        to_date(max($"l_shipdate")).as("last_seen_date"))
  }

  /** A2 scale variant of q08 — see [[q02TypeRollupApprox]]: same
    * rollup, HLL++ sketch in place of the exact distinct count. */
  def q08CooccurrenceApprox(spark: SparkSession, dir: String,
      rsd: Double = 0.05): DataFrame = {
    import spark.implicits._
    val li = graft.operators.Spread.cpuBound(t(spark, dir, "lineitem"))
    val part = t(spark, dir, "part")
    val sup = t(spark, dir, "supplier")
    val nat = t(spark, dir, "nation")
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(sup.join(broadcast(nat), $"s_nationkey" === $"n_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"p_brand", $"n_name")
      .agg(
        approx_count_distinct($"l_orderkey", rsd).as("studies"),
        to_date(min($"l_shipdate")).as("first_seen_date"),
        to_date(max($"l_shipdate")).as("last_seen_date"))
  }

  // ---------------------------------------------------------------- q09
  /** Top-k per group via ranking window (SURVEY §2.8): total order
    * (price desc, key asc) so both engines pick identical rows. */
  def q09WindowTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey".asc)
    t(spark, dir, "part")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"p_brand", $"p_partkey", $"p_name", $"p_retailprice", $"rn")
  }

  // ---------------------------------------------------------------- q10
  /** Running aggregate window (SURVEY §2.7): per-supplier running revenue
    * over a total order → identical prefix-sum sequence in both engines.
    *
    * The window order must be TOTAL for the prefix sums to be
    * deterministic at all: (l_orderkey, l_linenumber) is unique at the
    * driver's sf0.01 gate, but the sf0.1 fixture reuses key pairs and
    * carries one exact duplicate of the (suppkey, shipdate, orderkey,
    * linenumber) prefix with two different prices — an order-ambiguous
    * tie that made DuckDB disagree WITH ITSELF run to run (found in the
    * round-8 sf0.1 sweep). The price/discount/quantity tiebreakers make
    * the order total over every column the summed expression reads, so
    * rows tying on the full key are interchangeable and the prefix
    * sums are well-defined in any engine at any scale. */
  def q10RunningSum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber",
        $"l_extendedprice", $"l_discount", $"l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "lineitem")
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")).over(w), 4)
          .as("running_revenue"))
  }

  // ------------------------------------------------------------ q11-q13
  /** Set operations (SURVEY §2.9). INTERSECT/EXCEPT/UNION with distinct
    * semantics, matching the SQL operators. */
  private def custYear(spark: SparkSession, dir: String, y: Int): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .filter(year($"o_orderdate") === y)
      .select($"o_custkey")
  }

  def q11Intersect(spark: SparkSession, dir: String): DataFrame =
    custYear(spark, dir, 1995).intersect(custYear(spark, dir, 1996))

  def q12Except(spark: SparkSession, dir: String): DataFrame =
    custYear(spark, dir, 1995).except(custYear(spark, dir, 1996))

  def q13Union(spark: SparkSession, dir: String): DataFrame =
    custYear(spark, dir, 1995).union(custYear(spark, dir, 1996)).distinct()

  // ---------------------------------------------------------------- q27
  /** Global top-k: orderBy + limit plans as TakeOrderedAndProject — no
    * full sort, per-partition heaps + single merge (SURVEY §2.8). */
  def q27GlobalTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 4).as("o_totalprice"))
  }

  // ---------------------------------------------------------------- q26
  /** Pearson correlation matrix over lineitem measures (SURVEY M2's
    * distributed half): one aggregation pass, no shuffle of raw rows.
    * A near-zero negative correlation rounds to −0.0 in DuckDB but to
    * +0.0 in Spark (its round goes through BigDecimal, which has no
    * signed zero); `+ 0.0` (−0.0 + 0.0 = +0.0 in IEEE 754) declares
    * +0.0 on both sides of the pair, oracle SQL included. */
  def q26CorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    def r(a: String, b: String) = round(corr(col(a), col(b)), 4) + 0.0
    t(spark, dir, "lineitem")
      .agg(
        r("l_quantity", "l_extendedprice").as("corr_qty_price"),
        r("l_quantity", "l_discount").as("corr_qty_disc"),
        r("l_extendedprice", "l_tax").as("corr_price_tax"),
        r("l_discount", "l_tax").as("corr_disc_tax"))
  }

  // ---------------------------------------------------------------- q38
  /** Pivot (long → wide): per-year order counts spread across status
    * columns. The values list is EXPLICIT — with it, Spark pivots in one
    * aggregation pass; without it, a values-discovery job runs first
    * (never acceptable at 100 TB). Empty cells coalesce to 0 so the
    * wide frame is dense. */
  def q38Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .withColumn("order_year", year($"o_orderdate").cast("int"))
      .groupBy($"order_year")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select($"order_year",
        coalesce($"F", lit(0L)).as("n_f"),
        coalesce($"O", lit(0L)).as("n_o"),
        coalesce($"P", lit(0L)).as("n_p"))
  }

  // ---------------------------------------------------------------- q39
  /** Rollup with grouping id: subtotals at (status, priority), (status),
    * and grand-total levels in ONE pass — Catalyst's Expand feeds all
    * grouping sets through a single aggregation shuffle instead of
    * three scans. The grand-total row sums the ENTIRE table, so `total`
    * accumulates in exact integer cents (q01's fixed-point discipline —
    * a whole-table double sum's order-dependent error crosses the 4th
    * decimal as the table scales) and divides back only for display. */
  def q39Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "orders")
      .withColumn("price_c", round($"o_totalprice" * 100).cast("decimal(38,0)"))
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        (sum($"price_c").cast("double") / 100.0).as("total"),
        grouping_id().as("gid"))
  }

  // ================================================================ maps
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_type_rollup" -> (q02TypeRollup _),
    "q03_conditional_agg" -> (q03ConditionalAgg _),
    "q04_multi_substring_flag" -> (q04MultiSubstringFlag _),
    "q05_dashboard_extract" -> (q05DashboardExtract _),
    "q06_star_features" -> (q06StarFeatures _),
    "q07_update_join" -> (q07UpdateJoin _),
    "q08_cooccurrence" -> (q08Cooccurrence _),
    "q09_window_topk" -> (q09WindowTopk _),
    "q10_running_sum" -> (q10RunningSum _),
    "q11_intersect" -> (q11Intersect _),
    "q12_except" -> (q12Except _),
    "q13_union" -> (q13Union _),
    "q26_corr_matrix" -> (q26CorrMatrix _),
    "q27_global_topk" -> (q27GlobalTopk _),
    "q38_pivot" -> (q38Pivot _),
    "q39_rollup" -> (q39Rollup _))

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(qty) AS DOUBLE) AS sum_qty,
         CAST(sum(price_c) AS DOUBLE)/100.0 AS sum_base_price,
         CAST(sum(price_c*(100-disc_c)) AS DOUBLE)/10000.0 AS sum_disc_price,
         CAST((2*sum(qty)*10000 + count(*)) // (2*count(*)) AS DOUBLE)/10000.0 AS avg_qty,
         CAST((200*sum(disc_c) + count(*)) // (2*count(*)) AS DOUBLE)/10000.0 AS avg_disc,
         count(*) AS count_order
         FROM (
           SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
             CAST(round(l_discount*100) AS BIGINT) AS disc_c
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02')
         GROUP BY l_returnflag, l_linestatus""",
    "q02_type_rollup" ->
      """SELECT lower(p_type) AS type_name,
         count(DISTINCT l_orderkey) AS studies,
         CAST(min(l_shipdate) AS DATE) AS first_seen_date,
         CAST(max(l_shipdate) AS DATE) AS last_seen_date
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_type IS NOT NULL
         GROUP BY lower(p_type)""",
    "q03_conditional_agg" ->
      """SELECT n_name, total_orders, completed_orders, pending_orders, open_orders,
         avg_completed_price,
         CASE WHEN completed_orders + pending_orders > 0
              THEN round(CAST(completed_orders AS DOUBLE)/(completed_orders + pending_orders), 4)
              ELSE 0.0 END AS completion_ratio
         FROM (
           SELECT n_name,
             count(DISTINCT CASE WHEN o_orderstatus IN ('F','O','P') THEN o_orderkey END) AS total_orders,
             count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_orderkey END) AS completed_orders,
             count(DISTINCT CASE WHEN o_orderstatus = 'P' THEN o_orderkey END) AS pending_orders,
             count(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_orderkey END) AS open_orders,
             round(avg(CASE WHEN o_orderstatus = 'F' AND o_orderpriority <> '1-URGENT'
                            THEN o_totalprice END), 4) AS avg_completed_price
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name)""",
    "q04_multi_substring_flag" ->
      """SELECT o_orderpriority,
         count(*) AS n_orders,
         count(CASE WHEN has_flagged_part THEN 1 END) AS n_flagged_orders
         FROM (
           SELECT l_orderkey,
             bool_or(contains(lower(p_name),'green') OR contains(lower(p_name),'blue')
                  OR contains(lower(p_name),'ivory') OR contains(lower(p_name),'midnight'))
               AS has_flagged_part
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY l_orderkey) f
         JOIN orders ON f.l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    "q05_dashboard_extract" ->
      """SELECT o_orderkey, o_orderstatus,
         CAST(year(o_orderdate) AS INTEGER) AS order_year,
         replace(replace(c_name, '"', ''''), ' | ', ' - ') AS customer_name,
         n_name, r_name,
         CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE') THEN 't' ELSE 'f' END AS segment_flag
         FROM orders
         LEFT JOIN customer ON o_custkey = c_custkey
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey""",
    "q06_star_features" ->
      """SELECT o_orderkey,
         coalesce(li_count, 0) AS li_count,
         coalesce(supplier_count, 0) AS supplier_count,
         coalesce(part_count, 0) AS part_count,
         coalesce(revenue, 0.0) AS revenue,
         CASE WHEN o_totalprice < 1000.0 THEN 9
              WHEN contains(o_orderpriority,'NOT SPECIFIED') THEN 5
              WHEN contains(o_orderpriority,'LOW') THEN 4
              WHEN contains(o_orderpriority,'MEDIUM') THEN 3
              WHEN contains(o_orderpriority,'HIGH') THEN 2
              WHEN contains(o_orderpriority,'URGENT') THEN 1
              ELSE 0 END AS priority_code,
         CASE WHEN o_orderpriority LIKE '%HIGH%' THEN 1
              WHEN o_orderpriority LIKE '%URGENT%' THEN 2
              ELSE 0 END AS priority_stage,
         CASE WHEN o_orderstatus = 'F' THEN 0 WHEN o_orderstatus = 'P' THEN 1
              WHEN o_orderstatus = 'O' THEN 2 ELSE 0 END AS status_code,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 WHEN c_mktsegment = 'AUTOMOBILE' THEN 2
              WHEN c_mktsegment = 'MACHINERY' THEN 3 WHEN c_mktsegment = 'HOUSEHOLD' THEN 4
              WHEN c_mktsegment = 'FURNITURE' THEN 5 ELSE 0 END AS segment_code,
         CAST(year(o_orderdate) AS INTEGER) AS start_epoch,
         CASE WHEN year(o_orderdate) < 1997 THEN 0 WHEN year(o_orderdate) < 1999 THEN 1
              WHEN year(o_orderdate) < 2001 THEN 2 ELSE 3 END AS epoch_bucket,
         n_name
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN (
           SELECT l_orderkey, count(*) AS li_count,
             count(DISTINCT l_suppkey) AS supplier_count,
             count(DISTINCT l_partkey) AS part_count,
             round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
           FROM lineitem GROUP BY l_orderkey) li ON o_orderkey = li.l_orderkey""",
    "q07_update_join" ->
      """SELECT c_custkey, c_name, c_mktsegment, order_count, total_spent, last_order_date
         FROM customer
         LEFT JOIN (
           SELECT o_custkey, count(*) AS order_count,
             round(sum(o_totalprice),4) AS total_spent,
             CAST(max(o_orderdate) AS DATE) AS last_order_date
           FROM orders GROUP BY o_custkey) s ON c_custkey = o_custkey""",
    "q08_cooccurrence" ->
      """SELECT p_brand, n_name,
         count(DISTINCT l_orderkey) AS studies,
         CAST(min(l_shipdate) AS DATE) AS first_seen_date,
         CAST(max(l_shipdate) AS DATE) AS last_seen_date
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY p_brand, n_name""",
    "q09_window_topk" ->
      """SELECT p_brand, p_partkey, p_name, p_retailprice, rn FROM (
           SELECT p_brand, p_partkey, p_name, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
           FROM part) WHERE rn <= 3""",
    "q10_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
         round(sum(l_extendedprice*(1-l_discount))
               OVER (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber,
                              l_extendedprice, l_discount, l_quantity
                     ROWS UNBOUNDED PRECEDING), 4) AS running_revenue
         FROM lineitem""",
    "q11_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""",
    "q12_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""",
    "q13_union" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         UNION
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""",
    "q26_corr_matrix" ->
      """SELECT round(corr(l_quantity, l_extendedprice),4) + 0.0 AS corr_qty_price,
         round(corr(l_quantity, l_discount),4) + 0.0 AS corr_qty_disc,
         round(corr(l_extendedprice, l_tax),4) + 0.0 AS corr_price_tax,
         round(corr(l_discount, l_tax),4) + 0.0 AS corr_disc_tax
         FROM lineitem""",
    "q27_global_topk" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice,4) AS o_totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q38_pivot" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
         CAST(count(*) FILTER (WHERE o_orderstatus='F') AS BIGINT) AS n_f,
         CAST(count(*) FILTER (WHERE o_orderstatus='O') AS BIGINT) AS n_o,
         CAST(count(*) FILTER (WHERE o_orderstatus='P') AS BIGINT) AS n_p
         FROM orders GROUP BY year(o_orderdate)""",
    "q39_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total,
         CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         FROM orders
         GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""")
}
