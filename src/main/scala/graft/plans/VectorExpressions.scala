package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native, whole-stage-codegen'd vector kernels over two numeric
  * arrays. Column entry point: [[graft.functions.VectorFunctions]].
  *
  * Exactness contract (the repo's oracle recipe): element values
  * widen to double exactly as `x.cast("double")` does, and each
  * accumulator folds strictly left→right from 0.0, so the DuckDB
  * oracles that replay the same sums match bit for bit. A null
  * element on either side, or a length mismatch, nulls the result.
  */
abstract class NumericVecPairExpr extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // The kernels can return null even when both inputs are non-null
  // (length mismatch, null element), so nullability must not derive
  // from the children. Declaring false there also broke codegen:
  // nullSafeCodeGen's non-nullable branch never declares ev.isNull,
  // and the `${ev.isNull} = true` writes the subclasses generate
  // then referenced an undeclared name — Janino failed ("isNull_N is
  // not an rvalue") and the whole stage fell back to the interpreted
  // path.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    NumericVecPairExpr.check(prettyName, left, right)

  @transient protected lazy val getL = NumericVecPairExpr.reader(left.dataType)
  @transient protected lazy val getR = NumericVecPairExpr.reader(right.dataType)

  private def getCode(dt: DataType, arr: String, i: String): String =
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case DoubleType => s"$arr.getDouble($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case LongType => s"(double) $arr.getLong($i)"
      case other => throw new IllegalStateException(s"unexpected $other")
    }

  /** Java source reading element `i` of the left (right) array as a
    * double. */
  protected def getCodeL(arr: String, i: String): String =
    getCode(left.dataType, arr, i)
  protected def getCodeR(arr: String, i: String): String =
    getCode(right.dataType, arr, i)
}

/** The one vector-input rule every vector kernel reads through. */
object NumericVecPairExpr {

  /** The arrays a vector kernel accepts: float, double, int or long
    * elements. */
  def isNumericArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
      true
    case _ => false
  }

  /** Analysis-time form of [[isNumericArray]] over `fn`'s vector
    * arguments. */
  def check(fn: String, vecs: Expression*): TypeCheckResult =
    if (vecs.forall(v => isNumericArray(v.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects arrays of numeric elements, got " +
        vecs.map(_.dataType.sql).mkString(" / "))

  /** Element `i` of an array of type `dt`, widened to double. */
  def reader(dt: DataType): (ArrayData, Int) => Double =
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType => (a, i) => a.getFloat(i).toDouble
      case DoubleType => (a, i) => a.getDouble(i)
      case IntegerType => (a, i) => a.getInt(i).toDouble
      case LongType => (a, i) => a.getLong(i).toDouble
      case other => throw new IllegalStateException(s"unexpected $other")
    }
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
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
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

/** Σ aᵢ·bᵢ, double precision, left→right. */
case class DotExpr(left: Expression, right: Expression)
    extends BinaryVecFoldExpr {
  override protected def term(x: Double, y: Double): Double = x * y
  override protected def termCode(x: String, y: String): String =
    s"$x * $y"
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DotExpr = copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)², double precision, left→right. */
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
  * dot / sqrt(na·nb), with the three sums fused in one loop — the one
  * cosine kernel: kNN/ANN scoring, SemDeDup, IVF cell ranking
  * ([[NearestCellsExpr]]) and `cosine_sim` all evaluate it. Each sum
  * folds left→right from 0.0, so the result is bit-identical to the
  * composed `dot(a, b) / sqrt(dot(a, a) * dot(b, b))` the DuckDB
  * oracles replay.
  *
  * Null when either side is null, an element is null, the lengths
  * differ, or the denominator is zero (either norm zero — an empty
  * or all-zero vector). Null is what DuckDB's `x / 0` returns; it
  * sorts last under `desc` and never passes a `>=` threshold.
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
    val den = math.sqrt(na * nb)
    if (den == 0.0) null else dot / den
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
      val den = ctx.freshName("den")
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
         |    double $den = java.lang.Math.sqrt($na * $nb);
         |    if ($den == 0.0) ${ev.isNull} = true;
         |    else ${ev.value} = $dot / $den;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CosineSimExpr = copy(left = l, right = r)
}
