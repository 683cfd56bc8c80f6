package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact integer squared Euclidean distance between two `array<bigint>`
  * vectors: sum((a_i - b_i)^2) over the common prefix, as a compiled
  * whole-stage-codegen kernel.
  *
  * This is the scoring primitive of the integer-exact k-means operator
  * (graft.operators.KMeans): embeddings are quantized to fixed-point
  * longs (exact for float32 at the chosen scale), so distances — and
  * therefore cluster assignments — are EXACT integer arithmetic,
  * reproducible bit-for-bit on any cluster size and in the DuckDB
  * oracle. A per-row higher-order-function composition of the same sum
  * runs interpreted per element (see Int8MaxErrRatioExpr's scaladoc for
  * the measured cost); this kernel is one tight long loop per call.
  *
  * Overflow contract (documented, not checked per-row): |a_i - b_i| must
  * stay below sqrt(Long.MaxValue / dims) ~ 3.8e8 at 64 dims. The k-means
  * operator's fixed-point scale keeps |values| < ~1e8 for unit-ish
  * embeddings, far inside the bound. The matrix assignment kernel
  * (int_argmin_sqdist / KMeans.assignPairCol) shares exactly this bound
  * (it returns [cluster, dist] — nothing ever multiplies a distance by
  * k); KMeans.fit asserts the corpus max |component| against
  * sqrt(Long.MaxValue / dims) / 2 once per fit, because a long overflow
  * wraps silently outside ANSI mode and would mis-assign clusters with
  * no Spark-side error.
  */
case class IntSqDistExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "int_sqdist"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _                      => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<bigint> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}"
      )
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var acc = 0L
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
        |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |long $acc = 0L;
        |for (int $i = 0; $i < $n; $i++) {
        |  final long $d = $a.getLong($i) - $b.getLong($i);
        |  $acc += $d * $d;
        |}
        |${ev.value} = $acc;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}
