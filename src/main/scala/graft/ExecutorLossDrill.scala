package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Dedup
import graft.streaming.CorpusIngest

/** EXECUTOR-LOSS drill (SURVEY §6.1.7's named remaining gap): SIGKILL
  * one executor JVM of a `local-cluster[2,2,2048]` session and verify
  * the failure-domain claims the engine makes everywhere else in prose:
  *
  *  1. CONTRACT leg — `localCheckpoint` blocks die with their executor
  *     (consuming the frame after the kill must FAIL with the
  *     checkpoint-block error), while a RELIABLE `checkpoint` to the
  *     checkpoint dir recomputes from storage and survives the same
  *     kill. This is the exact trade [[Dedup.dedupClusters]]'s
  *     `reliable` flag documents.
  *  2. q42 MID-QUERY leg — the full near-dup → connected-components
  *     pipeline with `reliable = true`, an executor SIGKILLed while the
  *     job runs; the run must complete and digest-match the undisturbed
  *     run (lost cache blocks recompute from lineage, lost checkpoint
  *     reads come from reliable storage, lost shuffle output re-maps).
  *  3. STREAMING leg — the exact-dedup ingest seam with a streaming
  *     checkpointLocation, an executor SIGKILLed mid-stream; if the
  *     query dies it is RESTARTED on the same checkpoint and must
  *     converge: kept corpus content-equal to the undisturbed run, the
  *     index hash set equal, and the bloom a SUPERSET of the index
  *     (the corpus-before-index / bloom-first write order means a
  *     replayed batch may duplicate kept rows — same id, same content,
  *     dropped by one distinct — but can never lose one, and never
  *     admit a duplicate past the bloom).
  *
  * The kill is a real `SIGKILL` to the CoarseGrainedExecutorBackend
  * process (found via /proc by app id — only local-cluster runs fork
  * them, so the scan cannot hit a bystander `local[n]` job); the
  * standalone master then relaunches a replacement, which is itself
  * part of what the drill proves (recovery, not just tolerance).
  *
  * Usage:
  *   sbt package
  *   SPARK_HOME=/opt/spark tools/run_main.sh graft.ExecutorLossDrill [sfDir]
  */
object ExecutorLossDrill {

  private def executorPids(appId: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val proc = java.nio.file.Paths.get("/proc")
    Files.list(proc).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .flatMap { p =>
        try {
          val cmd = new String(Files.readAllBytes(p.resolve("cmdline")))
          if (cmd.contains("CoarseGrainedExecutorBackend") &&
              cmd.contains(appId))
            Some(p.getFileName.toString.toLong)
          else None
        } catch { case _: Exception => None }
      }.toSeq.sorted
  }

  private def waitFor(what: String, timeoutMs: Long = 120000)(
      cond: => Boolean): Unit = {
    val t0 = System.nanoTime()
    while (!cond) {
      require((System.nanoTime() - t0) / 1e6 < timeoutMs,
        s"timed out waiting for $what")
      Thread.sleep(250)
    }
  }

  /** SIGKILL the lowest-pid live executor; returns its pid after the
    * process is confirmed gone. */
  private def killOneExecutor(appId: String): Long = {
    val pids = executorPids(appId)
    require(pids.nonEmpty, "no executor process found to kill")
    val victim = pids.head
    ProcessHandle.of(victim).ifPresent(h => h.destroyForcibly())
    waitFor(s"executor $victim to die") {
      !ProcessHandle.of(victim).filter(h => h.isAlive).isPresent
    }
    println(s"[exec-loss] SIGKILLed executor pid=$victim")
    victim
  }

  /** Run `body` with a killer thread firing once after `delayMs`;
    * returns (body result, killed pid). */
  private def withKill[A](appId: String, delayMs: Long)(body: => A): (A, Long) = {
    @volatile var killed = -1L
    val killer = new Thread(() => {
      Thread.sleep(delayMs)
      killed = killOneExecutor(appId)
    }, "graft-executor-killer")
    killer.setDaemon(true)
    killer.start()
    val r = body
    killer.join(180000)
    require(killed > 0, "killer thread never fired — the run finished " +
      "before the kill delay; lower the delay or grow the workload")
    (r, killed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("scaledata/sf1")
    ClusterHarness.withSession(
      ClusterHarness.builder("local-cluster[2,2,2048]")) { spark =>
      import spark.implicits._
      val appId = spark.sparkContext.applicationId
      val ckptDir = ScratchDir("graft_execloss_ckpt").toString
      spark.sparkContext.setCheckpointDir(ckptDir)
      waitFor("both executors to register") {
        spark.sparkContext.statusTracker.getExecutorInfos.length >= 3
      }
      Tables.validate(spark, sfDir, Seq("documents"))

      // ---- leg 1: the checkpoint contract, deterministically ----
      // 32 partitions of synthetic rows, materialized as blocks across
      // both executors; then the kill, then consumption
      val base = spark.range(0, 8000000L, 1, 32)
        .select($"id", xxhash64($"id").as("h"))
      val local = base.localCheckpoint(true)
      require(local.count() == 8000000L)
      killOneExecutor(appId)
      val localDied =
        try { local.count(); false }
        catch {
          case e: Throwable =>
            val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
            require(msgs.contains("Checkpoint block") ||
              msgs.contains("block") || msgs.contains("Failed"),
              s"localCheckpoint failed for an unexpected reason: $msgs")
            true
        }
      require(localDied, "localCheckpoint survived an executor kill — " +
        "either all blocks landed on one executor (re-run) or the " +
        "documented failure mode is wrong")
      println("[exec-loss] OK leg1a: localCheckpoint lost its blocks " +
        "with the executor (as documented)")
      waitFor("replacement executor after leg1a") {
        executorPids(appId).size >= 2
      }
      val reliable = base.checkpoint(eager = true)
      require(reliable.count() == 8000000L)
      killOneExecutor(appId)
      require(reliable.count() == 8000000L,
        "reliable checkpoint failed to serve after an executor kill")
      require(reliable.agg(sum(when($"h" > 0, 1).otherwise(0))).head().getLong(0) ==
        base.agg(sum(when($"h" > 0, 1).otherwise(0))).head().getLong(0),
        "reliable checkpoint drifted from its source frame")
      println("[exec-loss] OK leg1b: reliable checkpoint recomputed from " +
        "storage through the same kill")
      waitFor("replacement executor after leg1") {
        executorPids(appId).size >= 2
      }

      // ---- leg 2: q42's reliable route, killed mid-query ----
      val docs = Tables.load(spark, sfDir, "documents")
      def q42Reliable(): ScaleSweep.Digest =
        try ScaleSweep.digest(Dedup.dedupClusters(
          graft.jobs.DocumentQueries.q20NgramJaccard(spark, sfDir)
            .select($"doc_a", $"doc_b"), reliable = true))
        finally spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val undisturbed = q42Reliable()
      val wallSec = (System.nanoTime() - t0) / 1e9
      println(f"[exec-loss] q42 undisturbed: rows=${undisturbed.rows} " +
        f"($wallSec%.1f s)")
      val (disturbed, killedPid) = withKill(appId,
        delayMs = math.max(2000L, (wallSec * 400).toLong)) { q42Reliable() }
      require(disturbed == undisturbed,
        s"q42 digest drifted across an executor kill: " +
          s"$undisturbed vs $disturbed")
      println(s"[exec-loss] OK leg2: q42 (reliable=true) digest-matched " +
        s"the undisturbed run through the kill of pid=$killedPid")
      waitFor("replacement executor after leg2") {
        executorPids(appId).size >= 2
      }

      // ---- leg 3: streaming exact-dedup seam killed mid-stream ----
      def seamRun(disturb: Boolean): (String, String, String) = {
        val nBatches = 6
        val d = docs.select($"doc_id", $"text")
        val n = d.count()
        val sz = (n + nBatches - 1) / nBatches
        def slice(i: Int): DataFrame =
          d.filter($"doc_id" >= i * sz && $"doc_id" < (i + 1) * sz)
        val staging = ScratchDir("graft_execloss_stage").toString
        (1 until nBatches).foreach { i =>
          slice(i).coalesce(1).write.mode("append").parquet(staging)
          Thread.sleep(1100)
        }
        val idx = ScratchDir("graft_execloss_idx").toString
        val bloom = ScratchDir("graft_execloss_bloom").toString
        val corpus = ScratchDir("graft_execloss_corp").toString
        val sCkpt = ScratchDir("graft_execloss_sckpt").toString
        val seed = Dedup.exactHashIndex(slice(0))
        seed.write.mode("overwrite").parquet(idx)
        Dedup.exactIndexBloom(seed, expectedItems = 2L * n)
          .write.mode("overwrite").parquet(bloom)
        def start() = {
          val src = spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1).parquet(staging)
          CorpusIngest.parquetExactDedupIngest(src, idx, bloom, corpus)
            .option("checkpointLocation", sCkpt)
            .trigger(Trigger.AvailableNow()).start()
        }
        if (disturb) {
          // kill an executor mid-stream, then STOP the query (whether
          // or not the kill alone felled it — task retry usually
          // absorbs a single executor loss) and RESTART it from its
          // own checkpoint: the drill must exercise the resume path,
          // not just loss tolerance, and the stop can land mid-batch —
          // exactly the window the bloom-first/corpus-before-index
          // order contract exists for
          val q = start()
          val killer = new Thread(() => {
            Thread.sleep(4000); killOneExecutor(appId)
          })
          killer.setDaemon(true); killer.start()
          try q.awaitTermination(9000)
          catch { case e: Throwable =>
            println(s"[exec-loss] stream died as permitted: " +
              s"${Option(e.getMessage).getOrElse("").take(120)}")
          }
          killer.join(120000)
          if (q.isActive) q.stop()
          val ranPreStop = q.recentProgress.count(_.numInputRows > 0)
          waitFor("replacement executor for stream restart") {
            executorPids(appId).size >= 1
          }
          val q2 = start()
          q2.awaitTermination()
          val ranPostStop = q2.recentProgress.count(_.numInputRows > 0)
          println(s"[exec-loss] stream resumed from checkpoint: " +
            s"$ranPreStop batches before the stop, $ranPostStop after")
          require(ranPostStop > 0 || ranPreStop >= nBatches - 1,
            "the restart processed nothing and the first run was " +
              "incomplete — resume from checkpoint did not happen")
        } else { val q = start(); q.awaitTermination() }
        (idx, bloom, corpus)
      }
      val (idxA, _, corpA) = seamRun(disturb = false)
      val (idxB, bloomB, corpB) = seamRun(disturb = true)
      // content sets must match exactly; replay may only duplicate
      // whole kept rows, which one distinct folds
      val keptA = ScaleSweep.digest(spark.read.parquet(corpA).distinct())
      val keptB = ScaleSweep.digest(spark.read.parquet(corpB).distinct())
      require(keptA == keptB,
        s"kept corpus drifted across the mid-stream kill: $keptA vs $keptB")
      val hashesA = ScaleSweep.digest(spark.read.parquet(idxA).distinct())
      val hashesB = ScaleSweep.digest(spark.read.parquet(idxB).distinct())
      require(hashesA == hashesB,
        s"index hash set drifted across the mid-stream kill")
      // bloom ⊇ index: every index hash must probe true in the final
      // bloom artifact (the write-order invariant — bloom first, index
      // after — must hold through the kill + restart)
      val bfBytes = spark.read.parquet(bloomB)
        .select($"bf_bloom").take(1)(0).getAs[Array[Byte]](0)
      val bc = spark.sparkContext.broadcast(
        org.apache.spark.util.sketch.BloomFilter.readFrom(bfBytes))
      val notInBloom = spark.read.parquet(idxB)
        .withColumn("p", coalesce(
          org.apache.spark.sql.GraftColumnBridge.column(
            graft.expressions.BloomProbe(bc,
              org.apache.spark.sql.GraftColumnBridge.expression(
                xxhash64($"text_hash")))), lit(false)))
        .filter(!$"p").count()
      require(notInBloom == 0,
        s"$notInBloom index hashes missing from the bloom: the bloom " +
          "lags its index across the kill (order contract violated)")
      // and the joint screen re-admits nothing already ingested
      val misses = Dedup.dedupAgainstIndexScreened(
        spark.read.parquet(corpB).select($"doc_id", $"text"),
        spark.read.parquet(idxB), spark.read.parquet(bloomB)).count()
      require(misses == 0,
        s"$misses already-ingested docs re-admitted after the kill")
      println("[exec-loss] OK leg3: streaming seam converged through a " +
        "mid-stream executor kill (content equal, index equal, bloom ⊇ index)")
      println("[exec-loss] 4/4 legs green")
    }
  }
}

/** Shared session shape for the process-boundary legs: every harness
  * that runs a `local-cluster[n,cores,mem]` master routes through
  * [[builder]] so the executor JVMs get the same JDK-17 module opens,
  * classpath shipping, and serializer as the audited invariance sweep
  * (SURVEY §6.1.7).
  *
  * What makes this leg different from twelve rounds of `local[n]`:
  *  - the app classes reach executors via `spark.jars` — the driver's
  *    file server actually serves the jar and each executor's
  *    `MutableURLClassLoader` loads graft classes from the fetched
  *    copy, the same path a real `--jars` submit takes (NOT
  *    `extraClassPath`, which would quietly fall back to the shared
  *    filesystem and test nothing);
  *  - `KryoSerializer` carries the data/broadcast path, so the
  *    `Broadcast[BloomFilter]` handle in
  *    [[graft.expressions.BloomProbe]] is torrent-delivered and
  *    deserialized in a JVM that never saw the driver-side object;
  *  - shuffles cross real sockets between two 2-core / 2 GiB executor
  *    processes, so a digest mismatch from map-iteration or
  *    serialization nondeterminism has somewhere to come from.
  */
object ClusterHarness {

  /** Mirrors build.sbt's jdk17AddOpens — a forked executor JVM is not
    * launched by sbt, so it must carry its own module opens. */
  val executorJavaOptions: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  val defaultJar = "target/scala-2.13/clinicalbispark_2.13-0.1.0.jar"

  /** A builder for `master`, shipping `jar` to executors. Worker
    * processes resolve their launch scripts through SPARK_HOME — fail
    * fast with the remedy rather than let the worker die opaquely. */
  def builder(master: String, jar: String = defaultJar): SparkSession.Builder = {
    require(!master.startsWith("local-cluster") || sys.env.contains("SPARK_HOME"),
      "local-cluster mode forks executor JVMs through the Spark distro: " +
        "run with SPARK_HOME=/opt/spark")
    val jarAbs = new java.io.File(jar).getAbsoluteFile
    require(jarAbs.isFile,
      s"$jarAbs missing — run `sbt package` first (executors fetch app " +
        "classes from this jar via the driver's file server)")
    GraftSession.defaults(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.jars", jarAbs.toString)
      .config("spark.executor.memory", "2g")
      // the executor command builder resolves the distro layout through
      // SPARK_SCALA_VERSION, normally exported by load-spark-env.sh —
      // a raw-java launch never ran it, and Command.environment is the
      // seam that reaches the in-process Worker's builder
      .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      .config("spark.executor.extraJavaOptions", executorJavaOptions)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer"))
  }

  /** Run `body` in a fresh session and tear the context down fully —
    * two legs with different masters cannot share a JVM-wide context. */
  def withSession[A](b: SparkSession.Builder)(body: SparkSession => A): A = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
