package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `unit` is the measured unit
  * (pass, cycle or round) the span belongs to; `parent` is -1 for the
  * unit's root span. */
final class Span(val id: Int, val parent: Int, val name: String,
    val unit: Int, val start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
}

/** Timing for one benchmark run.
  *
  * Always on: unit wall time, operation latencies, bytes the process
  * writes, post-GC heap. These feed the end-to-end metrics.
  *
  * Only in traced units: spans around every call the benchmark makes
  * into a layer, plus a SparkListener and a QueryExecutionListener that
  * collect job, task and planning statistics. Jobs are tied to spans
  * through a local property, so attribution survives the listener
  * bus's asynchronous delivery. Everything stays in memory until the
  * run ends. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private var tracing = false
  private var unitId = -1
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  /** (operation name, seconds) for every operation that completed. */
  val ops = mutable.ArrayBuffer.empty[(String, Double)]
  val units = mutable.ArrayBuffer.empty[UnitRec]
  /** (unit, name, value) counts recorded by the workloads. */
  private val counts = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private var heapPeak = 0L

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val planning = mutable.ArrayBuffer.empty[(Long, Double)]
  private val filesWritten = mutable.ArrayBuffer.empty[(Long, Long)]
  private var listening = false

  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name,
        unitId, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** A user-visible operation (a query, a pipeline stage, a serve
    * request): always timed under `name`, and a span named `spanName`
    * when tracing. */
  def op[A](name: String, spanName: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = span(spanName)(body)
    ops += ((name, (System.nanoTime() - t0) / 1e9))
    r
  }

  def isTracing: Boolean = tracing

  def count(name: String, value: Double): Unit =
    counts += ((unitId, name, value))

  /** Sum of a count over the traced units. */
  def countTotal(name: String): Double = {
    val traced = units.filter(_.traced).map(_.idx).toSet
    counts.filter(c => c._2 == name && traced(c._1)).map(_._3).sum
  }

  /** Run one measured unit. The heap settles after it, outside the
    * timed interval. `reference`: an untraced unit that the tracing
    * overhead may be measured against. */
  def unit(traced: Boolean, reference: Boolean)(body: => Long): UnitRec = {
    if (traced && !listening) listen()
    unitId += 1
    tracing = traced
    val gc0 = gcSeconds()
    val w0 = writtenBytes()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val inputBytes = try span("bench.unit")(body) finally tracing = false
    val wall = (System.nanoTime() - t0) / 1e9
    val rec = UnitRec(unitId, traced, reference, wall, ms0,
      System.currentTimeMillis(), gcSeconds() - gc0, writtenBytes() - w0,
      inputBytes)
    units += rec
    settleHeap()
    rec
  }

  /** Full GCs until the post-GC heap stops shrinking, then fold it into
    * the peak. The pauses between them let Spark's ContextCleaner and
    * the asynchronous unpersist of cleared caches drop their blocks,
    * which the next GC collects; one pause was not always enough, and
    * the figure then read about 6 MB high. */
  def settleHeap(): Unit = {
    def gcLive(): Long = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    }
    var live = gcLive()
    var rounds = 0
    var shrank = true
    while (shrank && rounds < 6) {
      Thread.sleep(500)
      val next = gcLive()
      shrank = next < live - (1L << 19)
      live = math.min(live, next)
      rounds += 1
    }
    heapPeak = math.max(heapPeak, live)
  }

  def heapPeakMb: Double = heapPeak / 1048576.0

  // ------------------------------------------------------------ listeners

  private def listen(): Unit = {
    listening = true
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p =>
          Option(p.getProperty(SpanKey))).map(_.toInt)
        span.foreach { s =>
          jobs(e.jobId) = new JobRec(s, e.time)
          e.stageIds.foreach(stageToJob(_) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          if (e.reason != org.apache.spark.Success) j.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.runMs += m.executorRunTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.diskBytesSpilled
            j.inputBytes += m.inputMetrics.bytesRead
            j.inputRecords += m.inputMetrics.recordsRead
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        // phases carry wall-clock stamps; a command without them is
        // placed by its end time, just before this callback
        val phases = qe.tracker.phases.values
        val start =
          if (phases.nonEmpty) phases.map(_.startTimeMs).min
          else System.currentTimeMillis() - ns / 1000000L
        val files = writeFiles(qe.executedPlan)
        planning.synchronized {
          planning += ((start, phases.map(_.durationMs).sum / 1e3))
          if (files > 0) filesWritten += ((start, files))
        }
      }
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
  }

  private def writeFiles(p: SparkPlan): Long = p match {
    case w: DataWritingCommandExec =>
      w.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case c: CommandResultExec => writeFiles(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeFiles(a.executedPlan)
    case q: QueryStageExec => writeFiles(q.plan)
    case other => other.children.map(writeFiles).sum
  }

  // ------------------------------------------------------------ summary

  /** Per-layer metrics as means per traced unit, the workloads' counts
    * included. Call after the last unit. */
  def layerMetrics(): Map[String, Double] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val traced = units.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val tracedIds = traced.map(_.idx).toSet
    val tracedSpans = spans.filter(s => tracedIds(s.unit))
    val childTime = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    tracedSpans.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.seconds)
    val self = tracedSpans.map(s => s -> (s.seconds - childTime(s.id)))
    val selfByName = self.groupMapReduce(_._1.name)(_._2)(_ + _)
    val spanUnit = spans.map(s => s.id -> s.unit).toMap
    val unitJobs = jobs.values.filter(j => spanUnit.get(j.span).exists(tracedIds))
    def inUnits(ms: Long): Boolean =
      traced.exists(u => ms >= u.startMs && ms <= u.endMs)
    val wall = traced.map(_.wallS).sum
    val jobWall = traced.map { u =>
      mergedSeconds(unitJobs.filter(j => spanUnit(j.span) == u.idx)
        .map(j => (j.start, math.max(j.start, j.end))).toSeq)
    }.sum
    val untraced = units.filter(u => !u.traced && u.reference).map(_.wallS).toSeq
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else Stats.median(traced.map(_.wallS).toSeq) - Stats.median(untraced)
    val layerSelf = self.filter(_._1.parent >= 0).map(_._2).sum
    val (files, planningS) = planning.synchronized {
      (filesWritten.filter(f => inUnits(f._1)).map(_._2).sum.toDouble,
        planning.filter(p => inUnits(p._1)).map(_._2).sum)
    }
    val countMeans = counts.filter(c => tracedIds(c._1))
      .groupMapReduce(_._2)(_._3)(_ + _).map { case (k, v) => k -> v / n }
    selfByName.collect { case (k, v) if k != "bench.unit" => s"${k}_s" -> v / n } ++
      countMeans ++ Map(
      "spark.jobs" -> unitJobs.size / n,
      "spark.files_written" -> files / n,
      "spark.job_wall_s" -> jobWall / n,
      "spark.driver_gap_s" -> (wall - jobWall) / n,
      "spark.task_cpu_s" -> unitJobs.map(_.cpuNs).sum / 1e9 / n,
      "spark.shuffle_read_bytes" -> unitJobs.map(_.shuffleRead).sum / n,
      "spark.shuffle_write_bytes" -> unitJobs.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> unitJobs.map(_.spill).sum / n,
      "spark.input_bytes" -> unitJobs.map(_.inputBytes).sum / n,
      "spark.core_util" ->
        (if (wall > 0) unitJobs.map(_.runMs).sum / 1e3 / (wall * cores) else 0.0),
      "spark.planning_s" -> planningS / n,
      "spark.gc_s" -> traced.map(_.gcS).sum / n,
      "spark.failed_tasks" -> unitJobs.map(_.failedTasks).sum / n,
      "trace.overhead_s" -> overhead,
      "trace.coverage" -> (if (wall > 0) layerSelf / wall else 0.0))
  }

  /** Input records read by the jobs launched under spans named `name`. */
  def recordsReadUnder(name: String): Long = {
    val ids = spans.filter(_.name == name).map(_.id).toSet
    jobs.values.filter(j => ids(j.span)).map(_.inputRecords).sum
  }

  /** Spans as JSON lines: name, start, end (ns), parent and unit id. */
  def spansJson: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"unit":${s.unit}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class UnitRec(idx: Int, traced: Boolean, reference: Boolean, wallS: Double,
      startMs: Long, endMs: Long, gcS: Double, writeBytes: Long,
      inputBytes: Long)

  final class JobRec(val span: Int, val start: Long) {
    var end: Long = start
    var cpuNs, runMs, shuffleRead, shuffleWrite, spill = 0L
    var inputBytes, inputRecords, failedTasks = 0L
  }

  /** Length of the union of [start, end] millisecond intervals. */
  def mergedSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + curE - curS) / 1e3
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Bytes this process has passed to write(2), from /proc/self/io:
    * parquet output, shuffle and spill files, manifests, logs. */
  def writtenBytes(): Long = {
    val f = java.nio.file.Paths.get("/proc/self/io")
    if (!java.nio.file.Files.isReadable(f)) 0L
    else java.nio.file.Files.readAllLines(f).asScala
      .find(_.startsWith("wchar:")).map(_.drop(6).trim.toLong).getOrElse(0L)
  }
}
