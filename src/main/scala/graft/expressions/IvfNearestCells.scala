package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The `m` nearest IVF cells of a vector against a CLUSTER-BROADCAST
  * centroid matrix — `(array<double> v, double nrm) →
  * array<struct<cell int, d2 double>>`, ordered (d2 asc, cell asc),
  * element 0 the home cell.
  *
  * Why not the DataFrame assignment (`corpus × broadcast(centroids)` +
  * `row_number`): that route materializes N×cells rows — each carrying
  * the full vector payload — through a window exchange. At survey-scale
  * cell counts (2¹⁰–2¹⁴) and 10⁵⁺ vectors that is hundreds of GB of
  * shuffle for what is per-row arithmetic. This kernel keeps the scan
  * at one row per vector: O(cells × dim) inside whole-stage codegen, a
  * bounded m-element insertion buffer, no expansion, no shuffle.
  *
  * The centroid matrix rides a `Broadcast[IvfCentroidSet]` HANDLE (the
  * [[BloomProbe]] stance): the task binary carries a reference,
  * executors torrent the megabytes once each and cache the
  * deserialized matrix in a codegen field. Constructed programmatically
  * only (through `CoarseQuantizer.Flat`) — a broadcast handle cannot come
  * from SQL text, so like [[BloomProbe]] it is not in the function
  * registry.
  *
  * d2 arithmetic is bit-identical to the DataFrame route (see
  * [[IvfAssignKernel.topCells]]), so the two routes' assignments —
  * including every tie-break — agree exactly; SimilaritySpec pins the
  * equality end-to-end.
  */
case class IvfNearestCells(bc: Broadcast[IvfCentroidSet],
    left: Expression, right: Expression, m: Int)
    extends BinaryExpression {

  require(m >= 1, s"m=$m — need at least the home cell")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false))), containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullable: Boolean = true

  override def prettyName: String = "graft_ivf_nearest_cells"

  override def nullSafeEval(v: Any, nrm: Any): Any =
    IvfAssignKernel.topCells(v.asInstanceOf[ArrayData],
      nrm.asInstanceOf[Double], bc.value, m)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("graftIvfCentroidsBc", bc,
      classOf[Broadcast[IvfCentroidSet]].getName)
    val csClass = classOf[IvfCentroidSet].getName
    // fetched + deserialized once per executor, cached in a field —
    // the per-row path touches only the local matrix
    val csField = ctx.addMutableState(csClass, "graftIvfCentroids",
      v => s"$v = ($csClass) $bcRef.value();", forceInline = true)
    val kernel = IvfAssignKernel.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (v, nrm) => s"""
      |${ev.value} = $kernel.topCells($v, $nrm, $csField, $m);
      |${ev.isNull} = (${ev.value} == null);
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfNearestCells =
    copy(left = newLeft, right = newRight)
}
