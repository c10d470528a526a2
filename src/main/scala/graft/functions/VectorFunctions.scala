package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.DataType
import graft.plans.{CosineSimExpr, DotExpr, L2SqExpr, NearestCentroidExpr}

/** Embedding-vector math over numeric array columns (float, double,
  * int or long elements) — the one Column entry point for the native
  * vector kernels in `graft.plans` (no UDF). Elements are widened to
  * double and accumulated sequentially left→right, so results are
  * bit-deterministic and engine-reproducible (the DuckDB oracles use
  * the literally identical formula — DuckDB's builtin
  * `list_cosine_similarity` accumulates in float32 and does NOT
  * match; see TextQueries oracle SQL).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision, sequential fold; null on a null
    * element or a length mismatch. */
  def dot(a: Column, b: Column): Column =
    column(DotExpr(expression(a), expression(b)))

  /** Σ aᵢ² in double precision. */
  def normSq(a: Column): Column = dot(a, a)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity, dot / sqrt(na*nb) — keep this exact shape in
    * any oracle SQL for bit-identical results. Null when either side
    * or an element is null, the lengths differ, or either norm is
    * zero ([[graft.plans.CosineSimExpr]]).
    */
  def cosine(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))

  /** Squared L2 distance, same fold and null rule as [[dot]]. */
  def l2Sq(a: Column, b: Column): Column =
    column(L2SqExpr(expression(a), expression(b)))

  /** struct(d, cid) of the nearest centroid in `cents`
    * (array<struct<cid:int, c:array<double>>>, cid-ascending) by
    * squared L2, first minimum on ties
    * ([[graft.plans.NearestCentroidExpr]]). */
  def nearestCentroid(vec: Column, cents: Column): Column =
    column(NearestCentroidExpr(expression(vec), expression(cents)))

  /** The [[cosine]] kernel over arrays of the given types, for code
    * that scores values outside a Column (IVF cell ranking). */
  private[graft] def cosineKernel(left: DataType,
      right: DataType): CosineSimExpr =
    CosineSimExpr(BoundReference(0, left, nullable = true),
      BoundReference(1, right, nullable = true))
}
