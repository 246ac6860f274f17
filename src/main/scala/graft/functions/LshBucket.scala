package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Deterministic random-hyperplane LSH bucket of a float vector:
  * bit j (j = 0..planes-1) is set iff
  *   Σ_i round(x_i·1e7) · (((i·31 + (j+offset)·17) mod 61) − 30) > 0.
  *
  * The plane family repeats with period [[LshBucket.PlaneMod]] (61) in
  * `j + offset`: that bounds how many DISTINCT hyperplanes exist, so
  * `planes` (and every band's `offset + width`) must stay below it —
  * the previous mod-13 family silently duplicated planes 13+, which
  * capped the usable bucket count at 2^13 and correlated wide band
  * layouts. 61 covers the 20-bit stored resolution of the incremental
  * vector index ([[graft.ext.Similarity.StoredPlanes]]) plus every
  * band offset in use, with margin.
  *
  * Integer hyperplanes + fixed-point inputs make the bucket id
  * engine-portable (the DuckDB oracle reproduces it bit-exactly) and
  * fully deterministic, so it can be materialized as a WRITE-TIME
  * partition column: the 100 TB ANN probe is then partition pruning +
  * one bucket scan (see [[graft.ext.AnnIndex]]).
  *
  * Semantically identical to the built-in HOF composition it
  * replaced (kept as the reference in `LshBucketSpec`) — including its
  * null-element behavior (a null element nulls every plane sum, so
  * `IF(null > 0, …)` leaves every bit unset → bucket 0) — but compiled
  * by whole-stage codegen instead of three nested interpreted HOF
  * lambdas, which BENCH_r01 showed dominating the read-time ANN path
  * (q38 9.96 s → the lambda re-evaluated per row per plane).
  *
  * `offset` shifts the plane family, so bands of independent planes
  * for pair-blocking come from the same expression:
  * band b of width w = lsh_bucket(v, w, b·w).
  */
case class LshBucket(child: Expression, planes: Int, offset: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _)
        if planes >= 1 && offset >= 0 &&
          planes + offset <= LshBucket.PlaneMod - 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"need planes >= 1, offset >= 0, planes + offset <= " +
          s"${LshBucket.PlaneMod - 1} (the plane family repeats mod " +
          s"${LshBucket.PlaneMod}), got planes=$planes offset=$offset")
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires array<float>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket"

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    var i = 0
    while (i < n) { // null element => every plane sum null => bucket 0
      if (x.isNullAt(i)) return 0L
      i += 1
    }
    val fixed = new Array[Long](n)
    i = 0
    while (i < n) {
      fixed(i) = FixedDot.roundAway(x.getFloat(i).toDouble * 1e7)
      i += 1
    }
    var bucket = 0L
    var j = 0
    while (j < planes) {
      var s = 0L
      i = 0
      while (i < n) {
        s += fixed(i) * (((i * 31 + (j + offset) * 17) % 61) - 30)
        i += 1
      }
      if (s > 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val fixed = ctx.freshName("fixed")
      val anyNull = ctx.freshName("anyNull")
      val bucket = ctx.freshName("bucket")
      s"""
         |int $n = $a.numElements();
         |boolean $anyNull = false;
         |long[] $fixed = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $anyNull = true; break; }
         |  $fixed[$i] = graft.functions.FixedDot.roundAway(
         |    ((double) $a.getFloat($i)) * 1e7);
         |}
         |long $bucket = 0L;
         |if (!$anyNull) {
         |  for (int $j = 0; $j < $planes; $j++) {
         |    long $s = 0L;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += $fixed[$i] *
         |        ((($i * 31 + ($j + $offset) * 17) % 61) - 30);
         |    }
         |    if ($s > 0) $bucket |= 1L << $j;
         |  }
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

object LshBucket {
  /** Period of the integer hyperplane family in `j + offset` — the
    * number of distinct hyperplanes that exist. Prime, and chosen so
    * stored-resolution probes (20 bits) plus band offsets fit with
    * margin. Every mirror (the HOF composition, the driver-side
    * `bucketOf`, the DuckDB oracle fragments) must use the same value. */
  val PlaneMod = 61

  /** SQL-builder helper: planes/offset must be foldable int literals. */
  def fromArgs(e: Seq[Expression]): LshBucket = {
    def intArg(x: Expression, what: String): Int = x.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"lsh_bucket $what must be an integer literal, got $other")
    }
    val planes = if (e.length > 1) intArg(e(1), "planes") else 4
    val offset = if (e.length > 2) intArg(e(2), "offset") else 0
    LshBucket(e.head, planes, offset)
  }
}
