package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Count of positions where two LONG arrays hold equal, non-null values —
  * the MinHash signature-agreement kernel, as a NATIVE codegen expression.
  * The declarative form StreamingDedup used per candidate pair,
  *
  *   aggregate(zip_with(a, b, (x, y) -> when(x === y, 1L).otherwise(0L)),
  *             0L, _ + _)
  *
  * is a higher-order-function chain: HOFs don't participate in whole-stage
  * codegen, so every one of the 64 signature components evaluated a boxed
  * lambda per pair — the same syndrome CosineSimExpr removed from the
  * similarity tier. This is THE per-candidate kernel of streaming LSH
  * dedup (every index probe and every within-batch pair pays it).
  *
  * Semantics are pinned to the declarative chain branch for branch:
  *   - either array NULL → NULL (aggregate over a null zip_with is null);
  *   - length mismatch: zip_with pads the shorter side with nulls, and
  *     `when(null === y, 1).otherwise(0)` takes the OTHERWISE branch — so
  *     padded positions count 0 and the result is still non-null;
  *   - a null ELEMENT on either side likewise compares to null → counts 0
  *     (never nulls the total — the when/otherwise absorbs it);
  *   - equal non-null elements count 1; the sum is a LONG.
  * The caller divides by the (constant) signature width and rounds, both
  * already-codegen'd built-ins, so the estimator
  * `round(sig_eq_count(a,b) / numHashes, 6)` is bit-identical to the HOF
  * form. SigEqCountSpec pins these fixtures.
  */
case class SigEqCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean  = true // null input array → NULL
  override def prettyName: String = "sig_eq_count"

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT> inputs, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SigEqCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SigEqCount.count($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SigEqCountExpr =
    copy(left = newLeft, right = newRight)
}

object SigEqCount {

  /** Static kernel for both interpreted and generated code; allocation-free. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      // null elements compare to null in the declarative form → count 0
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1L
      i += 1
    }
    c
  }

  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(SigEqCountExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
