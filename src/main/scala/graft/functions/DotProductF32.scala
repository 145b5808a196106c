package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd fixed-order dot product over two `array<float>` columns,
  * accumulated in double: semantically identical to
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0D, +)`
  * but compiled into the whole-stage-codegen loop instead of interpreting
  * two higher-order lambdas per row (measured ~8× on the sf0.1 kNN
  * self-join). This is the SURVEY §7.5 perf-gated custom Expression:
  * preference order (a) compose built-ins — done everywhere else —
  * (b) custom codegen Expression — this — before any UDF.
  *
  * Null/padding semantics replicate the declarative form exactly, so the
  * [[graft.plans.DotProductRewrite]] substitution is semantics-preserving
  * for ALL inputs: zip_with pads the shorter array with nulls and a null
  * element nulls the whole sum, so unequal lengths or any null element
  * yield NULL here too. The per-element null check is only emitted when a
  * child's ArrayType has containsNull=true — the embeddings corpus is
  * containsNull=false, so its hot loop stays branch-free.
  */
case class DotProductF32(left: Expression, right: Expression)
  extends BinaryExpression {

  /** Result can be NULL (length mismatch / null element) even for
    * non-null inputs. */
  override def nullable: Boolean = true

  @transient private lazy val mayContainNull: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, n) => n
      case _ => false
    })

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "dot_f32"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (mayContainNull && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val nullCheck = if (mayContainNull)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF32 =
    copy(left = newLeft, right = newRight)
}

object DotProductF32 {
  /** The kernel as a Column, for operators that build plans with the
    * DataFrame API. */
  def dot(a: Column, b: Column): Column = GraftBridge.column(
    DotProductF32(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** DuckDB oracle text of [[dot]]: the same double-accumulated
    * element-wise product sum. */
  def oDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
}
