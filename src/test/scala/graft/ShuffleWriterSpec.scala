package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count, length, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Spread

/** Which shuffle writer the engine's exchanges take. [[GraftSession]]
  * sets `spark.shuffle.sort.bypassMergeThreshold` to 0, so every SQL
  * exchange registers a serialized handle and its map output reaches
  * the disk once. At Spark's default threshold (200) the same
  * exchanges take the bypass-merge writer, which writes one file per
  * reduce partition and then copies them all into the map output. The
  * rows must not depend on the writer. */
class ShuffleWriterSpec extends AnyFunSuite with SparkSpec
    with AdaptiveSparkPlanHelper {

  private val ThresholdKey = "spark.shuffle.sort.bypassMergeThreshold"

  /** Collects `df`, then names the shuffle handle of every shuffle stage
    * in its final adaptive plan. The handle classes are private to
    * Spark, so they are matched by simple name. */
  private def run(df: DataFrame): (Seq[Row], Seq[String]) = {
    val rows = df.collect().toSeq
    val handles = collect(df.queryExecution.executedPlan) {
      case s: ShuffleQueryStageExec => s.shuffle
    }.collect { case e: ShuffleExchangeExec =>
      e.shuffleDependency.shuffleHandle.getClass.getSimpleName
    }
    (rows.sortBy(_.toString), handles)
  }

  /** `body` with the threshold at Spark's default. It is a core conf
    * that the shuffle manager reads when an exchange registers its
    * shuffle, so it is lifted from the running env's conf and put
    * back afterwards. */
  private def atSparkDefault[A](body: => A): A = {
    val conf = SparkEnv.get.conf
    val was = conf.getOption(ThresholdKey)
    conf.remove(ThresholdKey)
    try body finally was.foreach(conf.set(ThresholdKey, _))
  }

  private def assertWrittenOnce(what: String)(query: => DataFrame): Unit = {
    val (rows, handles) = run(query)
    assert(handles == Seq("SerializedShuffleHandle"), s"$what: $handles")
    val (defaultRows, defaultHandles) = atSparkDefault(run(query))
    assert(defaultHandles == Seq("BypassMergeSortShuffleHandle"),
      s"$what at Spark's default threshold: $defaultHandles")
    assert(rows.nonEmpty && rows == defaultRows, what)
  }

  test("engine exchanges take the serialized shuffle writer, rows unchanged") {
    assertWrittenOnce("hash aggregate over 4 partitions")(
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k"))
        .agg(count("*").as("n"), sum("id").as("s")))
    assertWrittenOnce("Spread.cpuBound over a single-split scan")(
      Spread.cpuBound(Tables.load(spark, sf0001, "documents"))
        .select(col("doc_id"), length(col("text")).as("chars")))
    assertWrittenOnce("single-partition exchange")(
      spark.range(0, 20000, 1, 4).agg(count("*").as("n"), sum("id").as("s")))
  }
}
