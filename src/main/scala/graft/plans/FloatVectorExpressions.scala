package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native codegen'd dot product over two `array<float>` columns.
  *
  * Why a custom Expression (SURVEY §4.3 preference order): the built-in
  * formulation `aggregate(zip_with(a,b,*),0d,+)` allocates an intermediate
  * array and evaluates three lambda closures per row; this compiles to a
  * single fused primitive loop inside whole-stage codegen — the hot inner
  * kernel of similarity search over 10⁸⁺ vectors. Used on the LSH/ANN
  * paths (hyperplane signs, codebook and candidate scoring); brute-force
  * cosine accumulates on [[graft.operators.VectorOps.dotFixed]]'s
  * fixed-point grid instead.
  *
  * Accumulation is sequential in array order (both eval and codegen), so the
  * result is deterministic and partitioning-independent.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<float> inputs, got ${l.sql} / ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native L2-norm over `array<float>` — same kernel shape. */
case class FloatNorm(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_norm requires an array<float> input, got ${other.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    while (i < x.numElements()) {
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatNorm =
    copy(child = newChild)
}

object FloatVectorExpressions {
  /** Column API over the native kernels. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(FloatDotProduct(Bridge.expression(a), Bridge.expression(b)))

  def norm(a: Column): Column =
    Bridge.column(FloatNorm(Bridge.expression(a)))
}
