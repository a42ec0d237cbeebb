package graft

import org.apache.spark.sql.SparkSession

/** The single config seam for graft sessions: every entrypoint (Verify,
  * Bench, BenchOne, the test harness) routes its builder through
  * [[defaults]], and a library consumer embedding graft in their own
  * application applies the same call to their builder.
  *
  * `spark.sql.legacy.parquet.nanosAsLong` lives HERE and nowhere else:
  * legacy events snapshots carry parquet TIMESTAMP(NANOS), which Spark
  * rejects unless this flag is on — and the flag is consulted at query
  * EXECUTION (the parquet scan re-converts the footer schema per file),
  * so a loader cannot scope-and-restore it around a lazy read. Earlier
  * revisions mutated it into the running session from `Tables.load`,
  * which a consumer sharing the session inherited silently; now loaders
  * fail fast with a pointer to this seam instead (ContractSpec pins
  * both behaviors). Current driver snapshots carry timestamp[us] and
  * never consult the flag — the loaders branch on the scanned type
  * (see `Tables.loadEvents`) — but the default stays on so a session
  * built here reads either generation.
  */
object GraftSession {

  val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Apply graft's shared session defaults to a builder. Master,
    * parallelism, and app-specific conf stay with the caller.
    *
    * `codegen.cache.maxEntries` (static conf — first-session-per-JVM):
    * the default 100-entry compiled-class cache thrashes under a
    * multi-query workload (the 58 declared queries alone span several
    * hundred codegen stages), forcing Janino recompiles of code that
    * was already compiled moments ago — measured as 40%+ inflation on
    * interleaved reruns. 1000 entries of generated classes is a few
    * tens of MB on a driver/executor that runs a query mix.
    *
    * `shuffle.sort.bypassMergeThreshold` = 0 (core `SparkConf`, so the
    * same rule: it applies only when this builder creates the JVM's
    * SparkContext; an application that brings its own context sets it
    * there): every exchange of at most this many reduce partitions
    * without map-side combine — here, every SQL exchange, since
    * `shuffle.partitions` is the core count — would otherwise take the
    * bypass-merge writer. That writer writes one temp file per reduce
    * partition and then copies them all into the map output file, so
    * each shuffled byte reaches the disk twice. At 0, SQL exchanges
    * take the serialized writer: it sorts record pointers by partition
    * id and, with no spill, moves its one sorted file into place as
    * the map output. Measured on a cold `bi_mix` pass at sf0.01 from
    * the JVM's own `/proc/self/io`: bytes written per shuffle byte
    * 2.00 → 1.00, with Spark's shuffle-write bytes unchanged (they
    * never counted the copy). A sorter that spills merges into the
    * output, which is at most the old 2×. Rows, plans and partition
    * counts do not change. */
  def defaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // AQE coalescing is parallelism-first (it aims partition sizes at
      // total/defaultParallelism before the 64 MB advisory), but the
      // target is FLOORED at coalescePartitions.minPartitionSize —
      // default 1 MB. This engine's post-shuffle stages are CPU-dense
      // per byte (vector distance math, shingle-set intersection,
      // window ranks over array payloads): a few-MB exchange floored at
      // 1 MB coalesces to 1-3 tasks and serializes seconds of compute
      // on one core (measured: q34's serve 2.85 s -> 1.09 s on 32 cores
      // with the floor at 64 KB; an 11-query CPU-dense subset -18%).
      // 64 KB keeps the floor well under total/parallelism whenever a
      // stage carries real data — at production scale partitions are
      // hundreds of MB and the floor never binds — while still fusing
      // genuinely-empty partitions. Scale-adaptive by construction:
      // the target keeps following defaultParallelism (cluster size),
      // not a tuned constant.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "64k")
      // Dedup.dedupAgainstIndexScreened pushes its maybe-set into the
      // index's parquet scan as an IN list of up to inListLimit (default
      // 1000) hashes; above this threshold Spark degrades the push to a
      // min/max RANGE — useless over uniform hashes. Like NanosKey, the
      // conf is consulted when the (lazy) scan executes, so the screen
      // cannot scope-and-restore it; it lives here as explicit session
      // configuration instead of a hidden runtime mutation.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "2048")
      // graft_topk (the similarity family's rank aggregate) keeps a
      // k-element heap per group — hundreds of bytes. The default
      // 128-ENTRY sort-based fallback of ObjectHashAggregateExec was
      // tuned for collect_list-style unbounded buffers; under it, any
      // query set beyond 128 queries abandons hash aggregation and
      // SORTS the whole candidate relation by group key — the exact
      // candidates-bounded sort the aggregate exists to avoid (the
      // sf30 truth hit a 600 M-row single-task spill sort here).
      //
      // The conf is session-wide because it is consulted at EXECUTION
      // (ObjectAggregationIterator reads SQLConf.get per task), so a
      // library returning lazy plans cannot scope-and-restore it around
      // one aggregate. That weakens the OOM valve for every OTHER
      // object aggregate in the session, so the bound it assumes is
      // stated and audited here: up to 65 536 in-flight buffers per
      // task before spill-to-sort. For graft_topk that is 65 536 ×
      // (16 B × k + object headers) ≈ 25 MB at k=10 — the intended
      // case. The engine's only UNBOUNDED-buffer aggregates are
      // collect_set at RelationalQueries.scala:223 (distinct
      // supplier/part keys per rollup group — ≤ |suppliers| ints, the
      // relation the reference's own GROUP BY carries) and
      // Dedup.scala:887 (split names — ≤ 3 strings); both are
      // payload-bounded well under executor memory at 65 536 groups.
      // A consumer adding collect_list of fat payloads over
      // high-cardinality keys should lower this on their own session.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .config(NanosKey, "true")

  /** Loader-side guard: events reads require [[NanosKey]] at execution
    * time. Failing here, with the remedy in the message, beats the
    * PARQUET_TYPE_ILLEGAL error surfacing mid-job from a task. */
  def requireNanosConf(spark: SparkSession): Unit =
    if (!spark.conf.getOption(NanosKey).contains("true"))
      throw new IllegalStateException(
        s"events.parquet is TIMESTAMP(NANOS): set $NanosKey=true when " +
          "building the session (GraftSession.defaults does this). " +
          "Loaders do not mutate a running session's conf.")
}
