package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native, whole-stage-codegen'd vector folds (r14, guide §4.1 /
  * optimization-prompt item 4 — "eliminate non-codegen Expressions in
  * the hot path"). The HOF formulations in
  * [[graft.functions.VectorFunctions]] (`aggregate` over `zip_with`)
  * are CodegenFallback expressions: every element pays an interpreted
  * lambda dispatch through a NamedLambdaVariable, and `zip_with`
  * allocates an intermediate array per row — measured as the dominant
  * cost of semDedup's Σ|cluster|² join predicate and the Lloyd assign
  * steps. These expressions run the identical arithmetic as a tight
  * generated loop.
  *
  * Exactness contract (the repo's oracle recipe): element values
  * widen to double exactly as `x.cast("double")` does, and each
  * accumulator folds strictly left→right from 0.0 — the same addition
  * sequence as the HOF `aggregate`, so results are bit-identical.
  * Null semantics replicate the HOF's poisoning: a null element on
  * either side (or a length mismatch, whose zip_with padding nulls
  * the product) nulls the whole result.
  */
abstract class NumericVecPairExpr extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // The fold can return null even when both inputs are non-null (length
  // mismatch, null element), so nullability must not derive from the
  // children. Declaring false there also broke codegen: nullSafeCodeGen's
  // non-nullable branch never declares ev.isNull, and the `${ev.isNull} =
  // true` writes the subclasses generate then referenced an undeclared
  // name — Janino failed
  // ("isNull_N is not an rvalue") and the whole stage fell back to the
  // interpreted path this expression exists to remove.
  override def nullable: Boolean = true

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
        true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects arrays of numeric elements, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  private def get(dt: DataType): (ArrayData, Int) => Double = dt match {
    case FloatType => (a, i) => a.getFloat(i).toDouble
    case DoubleType => (a, i) => a.getDouble(i)
    case IntegerType => (a, i) => a.getInt(i).toDouble
    case LongType => (a, i) => a.getLong(i).toDouble
    case other => throw new IllegalStateException(s"unexpected $other")
  }

  @transient protected lazy val getL = get(elemType(left))
  @transient protected lazy val getR = get(elemType(right))

  private def getCode(dt: DataType, arr: String, i: String): String =
    dt match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case DoubleType => s"$arr.getDouble($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case LongType => s"(double) $arr.getLong($i)"
      case other => throw new IllegalStateException(s"unexpected $other")
    }

  /** Java source reading element `i` of the left (right) array as a
    * double. */
  protected def getCodeL(arr: String, i: String): String =
    getCode(elemType(left), arr, i)
  protected def getCodeR(arr: String, i: String): String =
    getCode(elemType(right), arr, i)
}

/** A single-accumulator fold: Σ term(aᵢ, bᵢ), left→right from 0.0. */
abstract class BinaryVecFoldExpr extends NumericVecPairExpr {

  /** Per-pair term: (x, y) => contribution added to the fold. */
  protected def term(x: Double, y: Double): Double

  /** Java source of the per-pair term for codegen, over double
    * variables `x` and `y`. */
  protected def termCode(x: String, y: String): String

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null // zip_with pad ⇒ null sum
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null // HOF poisoning
      acc += term(getL(a, i), getR(b, i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $x = ${getCodeL(a, i)};
         |    double $y = ${getCodeR(b, i)};
         |    $acc += ${termCode(x, y)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }
}

/** Σ aᵢ·bᵢ, double precision, left→right — the native twin of
  * `VectorFunctions.dot`'s HOF fold. */
case class DotExpr(left: Expression, right: Expression)
    extends BinaryVecFoldExpr {
  override protected def term(x: Double, y: Double): Double = x * y
  override protected def termCode(x: String, y: String): String =
    s"$x * $y"
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DotExpr = copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)², double precision, left→right — the native twin of
  * `VectorFunctions.l2Sq`'s HOF fold. */
case class L2SqExpr(left: Expression, right: Expression)
    extends BinaryVecFoldExpr {
  override protected def term(x: Double, y: Double): Double = {
    val d = x - y; d * d
  }
  override protected def termCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): L2SqExpr = copy(left = l, right = r)
}

/** Cosine similarity of two numeric arrays in double precision,
  * dot / sqrt(na·nb), with the three sums fused in one generated loop
  * — the hot-path scalar for kNN/ANN scoring and `cosine_sim`. Each
  * sum folds left→right from 0.0, so the result is bit-identical to
  * `VectorFunctions.cosine` (three [[DotExpr]] folds), edges
  * included: null if either side is null, has a null element, or the
  * lengths differ.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends NumericVecPairExpr {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = getL(a, i)
      val y = getR(b, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $x = ${getCodeL(a, i)};
         |    double $y = ${getCodeR(b, i)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CosineSimExpr = copy(left = l, right = r)
}

object CosineSimExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  def cosine_native(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))
}

object VectorFoldExprs {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  def dot_native(a: Column, b: Column): Column =
    column(DotExpr(expression(a), expression(b)))
  def l2sq_native(a: Column, b: Column): Column =
    column(L2SqExpr(expression(a), expression(b)))
}
