package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions (SURVEY §4): the plans we'd want at
  * 100× stay locked in CI — a regression to a cartesian product, a
  * lost broadcast, or a dropped scan pushdown fails the build rather
  * than surfacing as bench drift.
  *
  * Queries run at sf0.001 and the AQE-final plan is inspected (collect
  * first so AdaptiveSparkPlan settles).
  */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  /** Final (post-AQE) physical plan string of a declared query. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    val qe = df.queryExecution
    df.collect()
    qe.executedPlan.toString
  }

  /** q24 broadcasts a bounded query block against the corpus with a
    * non-equi condition; q34's IVF assignment fans the corpus across a
    * broadcast centroid table of rows=cells (a deliberate bounded
    * cross join — the classic IVF assignment shape); q55's SemDeDup
    * cluster assignment is the SAME centroid-assignment shape as q34
    * (corpus × broadcast rows=cells centroid table, then rank-1 per
    * vector — Dedup.semanticDedup); q78's postings build+append is
    * the same centroid-assignment shape twice (build side and batch
    * side each fan across the broadcast 8-row centroid table).
    * BroadcastNestedLoop is the intended plan for all four: the
    * broadcast side is O(cells), never data-sized, so the fan-out is
    * a fixed small multiplier on a single corpus pass. q56 is
    * deliberately NOT here — its corpus count enters as a scalar
    * subquery (Dataset.scalar()), so the plan must contain no
    * nested-loop join at all. q89 serves a bounded broadcast query
    * block (with its per-query ADC lookup table) against the code
    * relation under the same non-equi `vec_id =!= query_id` condition
    * as q24 — the q24 shape over compressed codes. q90 is deliberately
    * NOT exempt for its ADC stage (its candidate join is an equi-join
    * on the probed cell), but its coarse-assignment stage fans the
    * corpus across the broadcast 8-row centroid table exactly like
    * q34, so it shares that allowance. */
  /** Spread.cpuBound's exchange: hash on its synthetic per-row key
    * (monotonically_increasing_id, printed `_nondeterministic#n`) — the
    * ONE shuffle the guide-§2.5 parallelism floor may add to an
    * otherwise exchange-free pipeline (identity at scale). Counted
    * apart from genuinely KEYED exchanges so the zero-keyed-shuffle
    * pins stay exact. */
  private def spreadExchanges(p: String): Int =
    "Exchange hashpartitioning\\(_nondeterministic#".r.findAllIn(p).size

  /** Keyed exchanges that are NOT the spread (hash on real columns,
    * range, single-partition) plus any round-robin — the shuffles the
    * per-row pins ban outright. */
  private def keyedExchanges(p: String): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobin)"
      .r.findAllIn(p).size - spreadExchanges(p)

  private val bnlAllowed =
    Set("q24_cosine_topk", "q34_ann_ivf", "q55_semantic_dedup",
      "q78_postings_roll", "q79_postings_compact",
      "q80_postings_compact_2l", "q89_ann_pq", "q90_ann_ivfpq")

  test("no cartesian product or nested-loop join outside the allowed set") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = finalPlan(name)
      val cartesian = p.contains("CartesianProduct")
      val bnl = p.contains("BroadcastNestedLoopJoin") && !bnlAllowed(name)
      if (cartesian || bnl) Some(s"$name${if (cartesian) " cartesian" else ""}${if (bnl) " bnl" else ""}")
      else None
    }
    assert(offenders.isEmpty, s"unexpected join plans: ${offenders.mkString(", ")}")
  }

  test("star-join queries broadcast their dimension sides") {
    // q02 joins part (dim) to lineitem; q04 part→lineitem→orders;
    // q06 is the 9-table star; q08 is the 3-table co-occurrence.
    // All must contain at least one broadcast hash join and no plain
    // shuffle of a dimension that fits the broadcast threshold.
    Seq("q02_type_rollup", "q04_multi_substring_flag", "q06_star_features",
      "q08_cooccurrence").foreach { name =>
      val p = finalPlan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name lost its broadcast join:\n$p")
    }
  }

  test("q01 pushes its date filter into the parquet scan") {
    val p = finalPlan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("PushedFilters: [LessThanOrEqual(l_shipdate") ||
      p.contains("LessThanOrEqual(l_shipdate"),
      s"q01 scan lost its pushed filter:\n$p")
  }

  test("pure per-row queries plan with zero data-dependent exchanges") {
    // these are expression-tree-only pipelines (project/filter/explode):
    // a KEYED shuffle appearing in any of them means an accidental
    // groupBy/distinct crept in — at 100 TB that's the difference
    // between a single corpus pass and a corpus re-shuffle. The ONE
    // permitted exchange is r19's Spread.cpuBound round-robin
    // (REPARTITION_BY_NUM): the guide-§2.5 parallelism floor for a
    // single-split local scan, identity at scale — so keyed exchanges
    // stay banned outright, and at most one round-robin may appear.
    // r20 (ADVICE): only the queries actually routed through
    // Spread.cpuBound may carry its ONE spread exchange (hash on the
    // synthetic per-row key — identity at scale); the rest must plan
    // ZERO exchanges of any kind — an accidental repartition creeping
    // into them must fail here, not hide under a blanket allowance.
    val spreadRouted = Set("q19_text_quality", "q36_winnow_fingerprints",
      "q46_token_chunks", "q53_repetition", "q69_text_clean")
    (spreadRouted.toSeq ++ Seq("q23_embed_norms", "q28_multimodal_meta",
      "q30_oncology_flags", "q48_embed_quantize")).foreach { name =>
      // count in the FINAL plan section only (the adaptive explain
      // string appends an "== Initial Plan ==" duplicate)
      val p = finalPlan(name).split("== Initial Plan ==")(0)
      assert(keyedExchanges(p) == 0, s"$name gained a keyed shuffle:\n$p")
      val spreads = spreadExchanges(p)
      val spreadMax = if (spreadRouted(name)) 1 else 0
      assert(spreads <= spreadMax,
        s"$name gained a non-spread shuffle:\n$p")
    }
  }

  test("q02 prunes lineitem scan to the referenced columns") {
    val p = finalPlan("q02_type_rollup")
    // the lineitem scan must not read the full 11-column schema
    val scans = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).toSeq
    assert(scans.nonEmpty, s"no lineitem scan found:\n$p")
    assert(!scans.exists(_.contains("l_comment")) &&
      !scans.exists(_.contains("l_extendedprice")),
      s"q02 reads columns it never uses:\n${scans.mkString("\n")}")
  }

  test("bucketed fact-fact join plans with no shuffle exchange (S10)") {
    import graft.sources.WarehouseWriter
    import spark.implicits._
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")
    WarehouseWriter.saveBucketed(orders, "orders_bucketed", "o_orderkey", 8)
    WarehouseWriter.saveBucketed(lineitem, "lineitem_bucketed", "l_orderkey", 8)
    // broadcast would bypass the bucketed layout on these tiny test
    // tables; at fact×fact scale neither side broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_bucketed")
        .join(spark.table("lineitem_bucketed"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_orderkey", $"o_totalprice", $"l_quantity")
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a co-located join:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      WarehouseWriter.dropIfExists(spark, "orders_bucketed")
      WarehouseWriter.dropIfExists(spark, "lineitem_bucketed")
    }
  }

  test("partitioned layout prunes non-matching partitions at plan time (S10)") {
    import graft.sources.WarehouseWriter
    import spark.implicits._
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .withColumn("order_year", org.apache.spark.sql.functions.year($"o_orderdate"))
    WarehouseWriter.savePartitioned(orders, "orders_part", "order_year")
    try {
      val q = spark.table("orders_part").filter($"order_year" === 1995)
        .select($"o_orderkey")
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters") && p.contains("order_year"),
        s"partition filter not recognized:\n$p")
      // the pruned scan must not carry the partition predicate as a
      // data filter — pruning happened at planning, not per row
      assert(!p.contains("PushedFilters: [IsNotNull(order_year)"),
        s"partition predicate leaked into the data scan:\n$p")
    } finally WarehouseWriter.dropIfExists(spark, "orders_part")
  }

  test("range-sorted layout lets a pushed filter skip most of the data (S10)") {
    import graft.sources.WarehouseWriter
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")

    // rows the parquet reader actually DECODED (scan-node output): with
    // tight per-file/row-group min-max stats a pushed range predicate
    // skips non-overlapping units entirely; on a shuffled layout every
    // unit spans the full value range and nothing skips
    def decodedRows(df: DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
    }

    WarehouseWriter.saveSorted(lineitem, "li_sorted", "l_extendedprice", 8)
    // shuffled twin: same data, same file count, round-robin layout —
    // every file spans the whole price range
    lineitem.repartition(8).write.mode("overwrite").format("parquet")
      .saveAsTable("li_shuffled")
    try {
      def band(t: String) = spark.table(t)
        .filter($"l_extendedprice" >= 1000.0 && $"l_extendedprice" <= 2000.0)
        .select($"l_orderkey", $"l_extendedprice")
      val (sortedRead, shuffledRead) =
        (decodedRows(band("li_sorted")), decodedRows(band("li_shuffled")))
      // identical answers, different I/O
      assert(band("li_sorted").exceptAll(band("li_shuffled")).count() == 0)
      assert(band("li_shuffled").exceptAll(band("li_sorted")).count() == 0)
      assert(shuffledRead == lineitem.count(),
        s"shuffled layout should decode everything, read $shuffledRead")
      assert(sortedRead * 4 < shuffledRead,
        s"sorted layout decoded $sortedRead of $shuffledRead — no skipping")
    } finally {
      WarehouseWriter.dropIfExists(spark, "li_sorted")
      WarehouseWriter.dropIfExists(spark, "li_shuffled")
    }
  }

  test("double-consumed corpus passes materialize once through a persist") {
    // q47's and q57's fingerprint frames each feed two consumers; the
    // operators persist them so the corpus winnow pass runs ONCE. If an
    // edit drops the persist, the pass silently doubles — this pin
    // fails instead. (Cached frames surface as in-memory scans in the
    // final plan; AQE may wrap them in a table-cache query stage.)
    // q52 left this set in r20: its first-seen owner became a window
    // over the shingle exchange, so the shingle pass has exactly ONE
    // consumer and the persist was removed with the join.
    Seq("q47_contamination", "q57_source_overlap")
      .foreach { name =>
        val p = finalPlan(name)
        assert(p.contains("InMemoryTableScan") ||
          p.contains("TableCacheQueryStage"),
          s"$name lost its corpus-pass persist:\n$p")
      }
  }

  test("q61 packing plans exactly ONE exchange (rollup reuses the shard partitioning)") {
    // the shard window shuffles on source ONCE; the (source, pack_id)
    // rollup's required clustering is satisfied by that same hash
    // partitioning (group keys ⊇ partition key), so the aggregate runs
    // in place — a second exchange appearing means the rollup stopped
    // riding the window's layout, a full extra corpus shuffle at 100 TB
    // the adaptive plan string appends an "== Initial Plan ==" section —
    // count exchanges in the FINAL plan only. r19: the Spread.cpuBound
    // round-robin (identity at scale, guide §2.5) is counted separately
    // — the CONTRACT is still exactly one KEYED exchange (the shard
    // window's), reused by the rollup.
    val p = finalPlan("q61_sequence_packing").split("== Initial Plan ==")(0)
    val keyed = keyedExchanges(p)
    assert(keyed == 1, s"q61 expected 1 keyed exchange, found $keyed:\n$p")
    assert(spreadExchanges(p) <= 1,
      s"q61 expected at most the one spread exchange:\n$p")
  }

  test("q67 quality gate reads the corpus exactly once") {
    // the whole expectation suite is ONE aggregate over documents —
    // adding a check must add a column, not a scan; a second scan
    // appearing means a check escaped the shared aggregate (at 100 TB,
    // each extra scan is a full corpus read per gate run)
    val p = finalPlan("q67_quality_gate").split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"q67 expected 1 corpus scan, found $scans:\n$p")
  }

  test("q68 anomaly screen: rollup shuffle + one single-partition window only") {
    // exchange 1: hash on hour_idx for the per-hour rollup (map-side
    // partial aggregation carries the volume); exchange 2: the global
    // RANGE window over ≤ ~1e5 hour rows — single-partition BY
    // CONSTRUCTION. A third exchange means the rollup or the window
    // stopped riding the intended layout.
    val p = finalPlan("q68_ingest_anomaly").split("== Initial Plan ==")(0)
    val exchanges = keyedExchanges(p) + spreadExchanges(p)
    assert(exchanges == 2, s"q68 expected 2 exchanges, found $exchanges:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"q68 rollup lost map-side partial aggregation:\n$p")
  }

  test("q70/q71 full-outer audits: sort-merge join, no extra corpus scan") {
    // both lifecycle audits are ONE full-outer equi-join on the id —
    // Spark cannot broadcast a full-outer side, so the intended 100 TB
    // plan is the sort-merge join the bucketed layout makes shuffle-free.
    // Each snapshot side must be scanned exactly as often as the query
    // derivation requires (q70 derives v2 from the same fixture: 3 scans;
    // q71 degrades embeddings from two filters: 3 scans) — an extra scan
    // means a side stopped being single-pass.
    Seq("q70_snapshot_diff" -> 3, "q71_ref_coverage" -> 3).foreach {
      case (name, maxScans) =>
        val p = finalPlan(name).split("== Initial Plan ==")(0)
        assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
          s"$name lost its sort-merge full-outer join:\n$p")
        val scans = "Scan parquet".r.findAllIn(p).size
        assert(scans <= maxScans,
          s"$name expected <= $maxScans parquet scans, found $scans:\n$p")
    }
  }

  /** Final plans of the data writes (`InsertIntoHadoopFsRelationCommand`)
    * that `body` runs, rendered after they ran — so each adaptive
    * subtree prints its final plan first. Listener events arrive on the
    * bus asynchronously: a marker query's event, posted after every
    * write's, bounds the wait. */
  private def writePlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var markerSeen = false
    val marker = s"write_plans_marker_${System.nanoTime()}"
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("Execute InsertIntoHadoopFsRelationCommand")) writes.add(p)
        else if (qe.analyzed.output.exists(_.name == marker)) markerSeen = true
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "the listener bus never delivered the marker query")
      writes.toArray(Array.empty[String]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** A maintenance op that lays out its own artifact writes its rows
    * through exactly ONE keyed exchange — the layout's — with every
    * dedup, window and cap rank riding that partitioning (a second
    * exchange is a second full shuffle of the rewritten rows). */
  private def assertOneLayoutExchange(op: String, plans: Seq[String],
      layout: String): Unit = {
    assert(plans.size == 1,
      s"$op expected one data write, saw ${plans.size}:\n${plans.mkString("\n\n")}")
    val p = plans.head.split("== Initial Plan ==")(0)
    val keyed = keyedExchanges(p)
    assert(keyed == 1 && spreadExchanges(p) == 0,
      s"$op expected 1 keyed exchange, found $keyed:\n$p")
    assert(p.contains(s"Exchange $layout"),
      s"$op's one exchange is not its layout's ($layout):\n$p")
  }

  /** sf0.001 documents split in two: the artifact's seed half and the
    * half each maintenance op rolls in. */
  private def halves = {
    import spark.implicits._
    val docs = Tables.load(spark, sf0001, "documents")
    (docs, docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1))
  }

  private def artifactPath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("index").toString

  test("exact index delta append shuffles once, on the range layout") {
    import graft.operators.Dedup
    val (_, seed, batch) = halves
    val path = artifactPath("graft_exact_append_shape")
    Dedup.saveExactIndex(Dedup.exactHashIndex(seed), path, files = 2)
    // the batch repeats its own texts: the append's distinct has work to do
    assertOneLayoutExchange("appendExactIndexDelta",
      writePlans(Dedup.appendExactIndexDelta(spark, path,
        batch.unionByName(batch), files = 2)),
      "rangepartitioning(text_hash#")
    assert(Dedup.readExactIndex(spark, path).count() ==
      Dedup.exactHashIndex(seed).unionByName(Dedup.exactHashIndex(batch)).count())
  }

  test("exact index compaction shuffles once, on the range layout") {
    import graft.operators.Dedup
    import spark.implicits._
    val (docs, seed, batch) = halves
    val path = artifactPath("graft_exact_compact_shape")
    Dedup.saveExactIndex(Dedup.exactHashIndex(seed), path, files = 2)
    Dedup.appendExactIndexDelta(spark, path, batch)
    Dedup.appendExactIndexDelta(spark, path, batch) // a replayed delta
    // a small target: several output files, so the layout is a range
    // exchange (one file plans as SinglePartition)
    assertOneLayoutExchange("compactExactIndex",
      writePlans(Dedup.compactExactIndex(spark, path,
        targetFileBytes = 1L << 10)),
      "rangepartitioning(text_hash#")
    assert(Dedup.readExactIndex(spark, path).as[String].collect().sorted.toSeq ==
      Dedup.exactHashIndex(docs).as[String].collect().sorted.toSeq)
  }

  test("minhash index compaction shuffles once, hashed on doc_id") {
    import graft.operators.Dedup
    val (docs, seed, batch) = halves
    val path = artifactPath("graft_minhash_compact_shape")
    Dedup.saveMinhashIndex(Dedup.minhashBandIndex(seed, 5, 32, 8), path, files = 2)
    Dedup.appendMinhashIndexDelta(spark, path, batch)
    Dedup.appendMinhashIndexDelta(spark, path, batch) // a replayed delta
    assertOneLayoutExchange("compactMinhashIndex",
      writePlans(Dedup.compactMinhashIndex(spark, path, files = 2)),
      "hashpartitioning(doc_id#")
    assert(Dedup.readMinhashIndex(spark, path).count() ==
      Dedup.minhashBandIndex(docs, 5, 32, 8).count())
  }

  test("winnow index compaction shuffles once, on the range layout") {
    import graft.operators.Dedup
    val (docs, seed, batch) = halves
    val path = artifactPath("graft_winnow_compact_shape")
    Dedup.saveWinnowIndex(Dedup.winnowIndex(seed, 5, 4), path, files = 2)
    Dedup.appendWinnowIndexDelta(spark, path, batch)
    Dedup.appendWinnowIndexDelta(spark, path, batch) // a replayed delta
    assertOneLayoutExchange("compactWinnowIndex",
      writePlans(Dedup.compactWinnowIndex(spark, path, files = 2)),
      "rangepartitioning(fingerprint#")
    val cols = Seq("doc_id", "fingerprint", "df").map(col)
    val (got, want) = (Dedup.readWinnowIndex(spark, path).select(cols: _*),
      Dedup.winnowIndex(docs, 5, 4).select(cols: _*))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("IVF retained recap shuffles once, on the cell layout") {
    import graft.operators.Similarity
    import spark.implicits._
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = Similarity.fitIvfIndex(emb, numCells = 16, seed = 42L,
      trainFraction = 0.5)
    val cents = model.clusterCenters.map(_.toArray)
    val (old, b1) = (emb.filter($"vec_id" % 2 === 0), emb.filter($"vec_id" % 2 === 1))
    val path = artifactPath("graft_recap_shape")
    Similarity.saveIvfPostings(Similarity.ivfPostings(old, model, 16), path)
    assertOneLayoutExchange("appendIvfPostingsRetained",
      writePlans(Similarity.appendIvfPostingsRetained(spark, path, cents, b1)),
      "hashpartitioning(cell#")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell", $"cand_id", $"d2").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Similarity.readPostings(spark, path)) ==
      rows(Similarity.ivfPostings(emb, model, 16)))
  }

  test("whole-stage codegen covers the relational hot paths") {
    Seq("q01_pricing_summary", "q05_dashboard_extract", "q19_text_quality")
      .foreach { name =>
        val p = finalPlan(name)
        // codegen stages print as `*(n) Operator` in the final plan
        assert(p.contains("*("),
          s"$name fell out of whole-stage codegen:\n$p")
      }
  }
}
