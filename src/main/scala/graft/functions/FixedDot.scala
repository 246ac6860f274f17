package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Fixed-point dot product of two float vectors:
  * Σ round(x_i · y_i · 1e12) as BIGINT.
  *
  * Semantically identical to the engine-portable SQL form
  * `aggregate(zip_with(a, b, (x,y) -> CAST(ROUND(CAST(x AS DOUBLE) *
  * CAST(y AS DOUBLE) * 1e12) AS BIGINT)), 0L, (acc,v) -> acc+v)` —
  * per-element IEEE double products with half-away-from-zero rounding,
  * summed exactly in integer space (order-independent) — but compiled
  * to a tight loop via whole-stage codegen instead of interpreted
  * lambda evaluation, which matters when the dot product sits inside an
  * O(n²) similarity join: the interpreted form re-boxes every element.
  *
  * Mirrors the reference's specified similarity surface (SURVEY.md §2
  * north star); at 100 TB this expression runs inside the scan stage
  * with zero allocation per row beyond the codegen'd loop.
  */
case class FixedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fixed_dot requires two array<float> args, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "fixed_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // match the zip_with composition exactly: unequal lengths pad with
    // null, and a null ELEMENT poisons the sum → null result
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += FixedDot.roundAway(
        x.getFloat(i).toDouble * y.getFloat(i).toDouble * 1e12)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $acc += graft.functions.FixedDot.roundAway(
         |      ((double) $a.getFloat($i)) * ((double) $b.getFloat($i)) * 1e12);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FixedDot = copy(left = newLeft, right = newRight)
}

object FixedDot {
  /** Half-away-from-zero rounding, matching SQL ROUND in Spark/DuckDB
    * (Math.round is half-up toward +∞, which differs for negatives). */
  def roundAway(v: Double): Long =
    if (v >= 0) Math.floor(v + 0.5d).toLong else Math.ceil(v - 0.5d).toLong
}
