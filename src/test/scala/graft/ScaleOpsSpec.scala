package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.RelationalQueries
import graft.operators.Joins

/** The authored 100-TB levers: HLL distinct-count variants (SURVEY A2)
  * and skew-salting (SURVEY §7.2 slice 5). Correctness here means
  * "equals the exact operator within its declared tolerance" — the
  * operators exist precisely to trade exactness for scale headroom.
  */
class ScaleOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("q02 HLL variant tracks exact distinct counts within 3×rsd") {
    val exact = RelationalQueries.q02TypeRollup(spark, sf0001)
      .select($"type_name", $"studies".as("exact")).as[(String, Long)]
      .collect().toMap
    val approx = RelationalQueries.q02TypeRollupApprox(spark, sf0001, rsd = 0.05)
      .select($"type_name", $"studies".as("est")).as[(String, Long)]
      .collect().toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, est) =>
      val e = exact(k).toDouble
      assert(math.abs(est - e) / e <= 0.15,
        s"$k: estimate $est vs exact $e beyond 3×rsd")
    }
  }

  test("q08 HLL variant tracks exact distinct counts within 3×rsd") {
    val exact = RelationalQueries.q08Cooccurrence(spark, sf0001)
      .select(concat_ws("|", $"p_brand", $"n_name"), $"studies")
      .as[(String, Long)].collect().toMap
    val approx = RelationalQueries.q08CooccurrenceApprox(spark, sf0001, rsd = 0.05)
      .select(concat_ws("|", $"p_brand", $"n_name"), $"studies")
      .as[(String, Long)].collect().toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, est) =>
      val e = exact(k).toDouble
      assert(math.abs(est - e) / e <= 0.15,
        s"$k: estimate $est vs exact $e beyond 3×rsd")
    }
  }

  test("q44 approx percentiles track exact within sketch tolerance") {
    import graft.jobs.DocumentQueries
    def perLang(df: org.apache.spark.sql.DataFrame) = df
      .select($"lang", $"p50_tokens".cast("double"),
        $"p90_tokens".cast("double"), $"p99_tokens".cast("double"))
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val exact = perLang(DocumentQueries.q44TokenPercentiles(spark, sf0001))
    val approx = perLang(DocumentQueries.q44TokenPercentilesApprox(spark, sf0001))
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (lang, (a50, a90, a99)) =>
      val (e50, e90, e99) = exact(lang)
      // approx returns an observed value, exact interpolates — the gap
      // is bounded by the local inter-value spacing; 5% or 2 tokens
      // covers it at every sf
      Seq(("p50", a50, e50), ("p90", a90, e90), ("p99", a99, e99)).foreach {
        case (p, a, e) =>
          assert(math.abs(a - e) <= math.max(2.0, 0.05 * e),
            s"$lang $p: approx $a vs exact $e beyond tolerance")
      }
    }
  }

  test("q51 HLL variant tracks exact cohort retention within 3×rsd") {
    import graft.jobs.EventQueries
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select(concat_ws("|", $"cohort_week", $"week_offset"),
        $"n_active".cast("long"))
      .as[(String, Long)].collect().toMap
    val exact = cells(EventQueries.q51Retention(spark, sf0001))
    val approx = cells(EventQueries.q51RetentionApprox(spark, sf0001, rsd = 0.05))
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, est) =>
      val e = exact(k).toDouble
      assert(math.abs(est - e) / e <= 0.15,
        s"$k: estimate $est vs exact $e beyond 3×rsd")
    }
  }

  test("q51 cohort weeks are session-TZ independent (NTZ epoch arithmetic)") {
    import graft.jobs.EventQueries
    // the ltz round-trip this guards against: in a DST session TZ,
    // cast(ntz as timestamp) shifts truncated weeks off exact weekUs
    // multiples and week_offset buckets drift
    def cells() = EventQueries.q51Retention(spark, sf0001)
      .select(concat_ws("|", $"cohort_week", $"week_offset"),
        $"n_active".cast("long"))
      .as[(String, Long)].collect().toMap
    val utc = cells()
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    val ny = try {
      spark.conf.set(tzKey, "America/New_York")
      cells()
    } finally spark.conf.set(tzKey, saved)
    assert(ny == utc, "retention cells changed with session time zone")
  }

  test("q52 hashed-key novelty matches the string-key query (≤, equal sans collisions)") {
    // the 8-byte-shuffle-key form: collisions can only merge first-seen
    // owners, so per-doc novelty is biased low, never high — and at
    // sf0.001's shingle count a 64-bit collision is vanishingly rare,
    // so the two should in fact be equal
    val exact = graft.jobs.DocumentQueries.q52Novelty(spark, sf0001)
      .select($"doc_id", $"n_shingles", $"novelty")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val hashed = graft.jobs.DocumentQueries.q52NoveltyHashed(spark, sf0001)
      .select($"doc_id", $"n_shingles", $"novelty")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(hashed.keySet == exact.keySet)
    hashed.foreach { case (d, (n, nov)) =>
      assert(n == exact(d)._1, s"doc $d shingle count drifted")
      assert(nov <= exact(d)._2 + 1e-9, s"doc $d hashed novelty above exact")
    }
    // collision-free in practice at this scale: values actually equal
    assert(hashed.count { case (d, (_, nov)) => nov == exact(d)._2 } == hashed.size)
  }

  test("q65 hashed-key surprise matches the string-key query sans collisions") {
    // 8-byte shuffle keys for both bigram shuffles; a collision merges
    // two grams' counts (nudges ln c), absent at this scale
    val exact = graft.jobs.DocumentQueries
      .queries("q65_bigram_surprise")(spark, sf0001)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val hashed = graft.jobs.DocumentQueries.bigramSurpriseHashed(spark, sf0001)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(hashed == exact, "hashed-key twin drifted from the string-key query")
  }

  test("q06's salted opt-in returns exactly the plain q06 result") {
    val plain = RelationalQueries.q06StarFeatures(spark, sf0001)
    val salted = RelationalQueries.q06StarFeaturesSalted(spark, sf0001, salt = 8)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("asofJoin equals the naive non-equi formulation on events") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, sf0001, "events")
    val clicks = e.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = e.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts").agg(round(max($"value"), 4).as("pv"))
    val viaUnion = Joins.asofJoin(clicks, purchases, "user_id", "ts", Seq("pv"))
      .select($"event_id", $"asof_pv".as("pv"))
    // truth: non-equi join + keep-latest (quadratic — test-scale only)
    val w = Window.partitionBy($"event_id").orderBy($"p_ts".desc)
    val naive = clicks
      .join(purchases.select($"user_id".as("p_uid"), $"ts".as("p_ts"), $"pv"),
        $"user_id" === $"p_uid" && $"p_ts" <= $"ts", "left")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_id", $"pv")
    assert(viaUnion.count() === clicks.count(), "as-of must keep every left row")
    assert(viaUnion.exceptAll(naive).isEmpty && naive.exceptAll(viaUnion).isEmpty)
  }

  test("asofJoin right rows at exactly left.time are matched (>= semantics)") {
    val left = Seq((1L, 100L), (2L, 50L)).toDF("id", "t")
    val right = Seq((1L, 100L, "same-instant"), (1L, 99L, "earlier"))
      .toDF("id", "t", "tag")
    val out = Joins.asofJoin(left, right, "id", "t", Seq("tag"))
      .select($"id", $"asof_tag").as[(Long, Option[String])].collect().toMap
    assert(out(1L).contains("same-instant"))
    assert(out(2L).isEmpty, "no preceding right row must yield NULL")
  }

  test("rangeJoin equals the naive containment join across bin widths") {
    val e = Tables.load(spark, sf0001, "events")
      .select($"event_id", $"user_id", $"ts")
    // synthetic per-user intervals straddling bin boundaries
    val iv = Tables.load(spark, sf0001, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("iv_start"),
        ($"ts" + expr("INTERVAL 90 MINUTES")).as("iv_end"))
    def naive =
      e.join(iv.withColumnRenamed("user_id", "iv_uid"),
          $"user_id" === $"iv_uid" &&
            $"ts" >= $"iv_start" && $"ts" <= $"iv_end")
        .select($"event_id", $"iv_start")
    Seq(600L, 3600L, 86400L).foreach { bin =>
      val bucketed = Joins.rangeJoin(e, iv, "user_id", "ts",
          "iv_start", "iv_end", binSeconds = bin)
        .select($"event_id", $"iv_start")
      assert(bucketed.count() === naive.count(), s"row count drifted at bin=$bin")
      assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty,
        s"range-join mismatch at bin=$bin")
    }
  }

  test("saltedJoin returns exactly the rows of the plain join") {
    val fact = spark.range(5000).select(
      (when($"id" % 10 === 0, 1L).otherwise($"id" % 100)).as("k"),
      $"id".as("payload"))
    val dim = spark.range(100).select($"id".as("k"),
      concat(lit("dim"), $"id").as("name"))
    val plain = fact.join(dim, "k").select($"k", $"payload", $"name")
    val salted = Joins.saltedJoin(fact, dim, "k", salt = 8)
      .select($"k", $"payload", $"name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in the final plan)") {
    // the OTHER half of the skew story the 100-TB design leans on:
    // authored salting (below) is the opt-in mitigation, AQE's
    // OptimizeSkewedJoin is the runtime one — prove it actually engages
    // on a planted hot key, rather than citing it on faith. Thresholds
    // are lowered to test scale (defaults target 256 MB partitions);
    // the MECHANISM — a skewed partition split into sub-partitions at
    // runtime — is scale-independent.
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      // force a sort-merge join — a broadcast join has no shuffle to skew
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 95% of the left rides ONE key; the payload is hash-random so the
      // hot shuffle partition cannot compress below the skew threshold
      val left = spark.range(200000).select(
        when($"id" % 20 =!= 0, 0L).otherwise($"id" % 500).as("k"),
        xxhash64($"id").as("payload"))
      val right = spark.range(500).select($"id".as("k"),
        concat(lit("r"), $"id").as("name"))
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), max($"payload").as("mx"))
      // collect() drives the Dataset's OWN queryExecution (count() would
      // plan a separate query), so AQE finalizes the plan we inspect
      assert(joined.collect()(0).getLong(0) === 200000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join; final plan:\n$finalPlan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("events queries return the same rows with AQE skew splits on and off over a hot user") {
    // every events shuffle keys on user_id, and production event
    // streams carry hot users (bots, shared accounts). Plant one user
    // holding ≈15% of the rows (SURVEY §6.1.1) and require
    // q50/q51/q58/q59 to digest-equal whether AQE splits the skewed
    // join partition or not. The test above pins that the split
    // engages on a synthetic join; this pins the events results under
    // it. Sort-merge is forced in both runs (at spec scale AQE would
    // broadcast the small sides, and a broadcast has no partition to
    // split); forceOptimizeSkewedJoin accepts the extra exchange the
    // rollups' reuse of the join partitioning would otherwise refuse.
    val skewConfs = Seq(
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k")
    val switches = Seq("spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
    val restore = (skewConfs.map(_._1) ++ switches)
      .map(k => k -> spark.conf.getOption(k)).toMap
    def setSkew(on: Boolean): Unit =
      switches.foreach(k => spark.conf.set(k, on.toString))
    val dir = tempDir("graft_skew").toString
    try {
      ScaleData.events(spark, 100000L, users = 10000L)
        .withColumn("user_id",
          when(pmod(xxhash64(lit("hot"), $"event_id"), lit(100)) < 15, 0L)
            .otherwise($"user_id"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      Tables.validate(spark, dir, Seq("events"))
      skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      val engaged = Seq("q50_funnel", "q51_retention",
        "q58_attributed_clicks", "q59_attributed_outer").map { name =>
        val fn = SparkEntry.queries(name)
        setSkew(on = true)
        // AQE finalizes the plan of the QueryExecution that runs;
        // toRdd drives this one, so its executedPlan is the final plan
        val qe = fn(spark, dir).queryExecution
        qe.toRdd.count()
        val split = qe.executedPlan.toString.contains("skew=true")
        val on = ScaleSweep.digest(fn(spark, dir))
        spark.catalog.clearCache()
        setSkew(on = false)
        val off = ScaleSweep.digest(fn(spark, dir))
        spark.catalog.clearCache()
        assert(on.rows > 0, s"$name returned no rows")
        assert(on === off, s"$name diverged under the skew split")
        name -> split
      }
      assert(engaged.exists(_._2),
        s"no events query split its hot partition: $engaged")
    } finally {
      restore.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      val hDir = new org.apache.hadoop.fs.Path(dir)
      hDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hDir, true)
    }
  }

  test("saltedJoin spreads a planted hot key across shuffle partitions") {
    // 90% of fact rows share key 1 → unsalted, they join in ONE shuffle
    // partition; salted, the hot key's rows spread over up to `salt`
    // (key, salt) sub-keys.
    val fact = spark.range(20000).select(
      when($"id" % 10 =!= 0, 1L).otherwise($"id" % 50).as("k"),
      $"id".as("payload"))
    val dim = spark.range(50).select($"id".as("k"), lit("d").as("name"))

    def hotSpread(df: org.apache.spark.sql.DataFrame): Long =
      df.filter($"k" === 1)
        .select(spark_partition_id().as("pid")).distinct().count()

    // AQE coalescing would re-merge these tiny test partitions and hide
    // the distribution under measurement; at real scale partitions don't
    // coalesce away. shuffle_hash hint keeps the dim off the broadcast
    // path for the same reason.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val unsalted = fact.join(dim.hint("shuffle_hash"), "k")
      val salted = Joins.saltedJoin(fact, dim.hint("shuffle_hash"), "k", salt = 8)
      val before = hotSpread(unsalted)
      val after = hotSpread(salted)
      assert(before === 1L, s"unsalted hot key unexpectedly spread: $before")
      assert(after > 1L, s"salting failed to spread the hot key: $after")
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
  }
}
