package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid argmin: struct(d, cid) of the centroid at the
  * smallest squared L2 distance from a vector, as one loop per row
  * (the Lloyd assigns and the PQ encode). Column entry point:
  * [[graft.functions.VectorFunctions.nearestCentroid]].
  *
  * Semantics (ExpressionsSpec pins bit-parity with an `aggregate()`
  * fold over [[L2SqExpr]]):
  *   - `cents` is array<struct<cid:int, c:array<double>>> in
  *     cid-ascending order; a NULL `cents` (e.g. element_at on a
  *     missing map key) nulls the result;
  *   - the fold starts at (Double.MaxValue, -1) and keeps the FIRST
  *     strict minimum — the (dist, cid) tie-break;
  *   - the per-centroid distance is [[L2SqExpr]]'s left→right double
  *     fold, inlined so no distance is boxed; a NULL distance (null
  *     vec, null element, length mismatch) skips that centroid;
  *   - the result is struct(d: double, cid: int), never null for
  *     non-null `cents` (empty centroid arrays yield the init
  *     struct).
  *
  * CodegenFallback: the call is once per ROW (the loop inside is
  * plain JVM code); the surrounding stage still whole-stage-codegens.
  */
case class NearestCentroidExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "nearest_centroid"

  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))

  override def nullable: Boolean = right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val centsOk = right.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, IntegerType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
      case _ => false
    }
    if (NumericVecPairExpr.isNumericArray(left.dataType) && centsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<numeric>, array<struct<int, " +
          s"array<double>>>), got ${left.dataType.sql} / " +
          s"${right.dataType.sql}")
  }

  @transient private lazy val getV = NumericVecPairExpr.reader(left.dataType)

  override def eval(input: InternalRow): Any = {
    val centsV = right.eval(input)
    if (centsV == null) return null
    val vecV = left.eval(input)
    var bestD = Double.MaxValue
    var bestC = -1
    if (vecV != null) {
      val v = vecV.asInstanceOf[ArrayData]
      val nV = v.numElements()
      val cents = centsV.asInstanceOf[ArrayData]
      val k = cents.numElements()
      var j = 0
      while (j < k) {
        // a null struct entry cannot occur in the literal tables the
        // callers build; guard anyway (it keeps the accumulator)
        if (!cents.isNullAt(j)) {
          val ct = cents.getStruct(j, 2)
          val c = ct.getArray(1)
          if (c != null && c.numElements() == nV) {
            // L2SqExpr's fold: left→right, each term (x−y)²; a null
            // element poisons d → comparison fails → acc kept
            var acc = 0.0
            var i = 0
            var nullified = false
            while (i < nV && !nullified) {
              if (v.isNullAt(i) || c.isNullAt(i)) nullified = true
              else {
                val d0 = getV(v, i) - c.getDouble(i)
                acc += d0 * d0
              }
              i += 1
            }
            if (!nullified && acc < bestD) {
              bestD = acc
              bestC = ct.getInt(0)
            }
          }
        }
        j += 1
      }
    }
    InternalRow(bestD, bestC)
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): NearestCentroidExpr = copy(left = l, right = r)
}
