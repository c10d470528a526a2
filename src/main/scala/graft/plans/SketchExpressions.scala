package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup sketches: each shingle
  * is hashed ONCE and the k-slot / 60-bit loops run as tight JVM
  * loops — the one MinHash / SimHash family in the program.
  *
  * The md5 prefix the portable sketches hash with is owned by
  * [[BloomHash]]; the shingle → signature → band pipeline built on
  * these expressions is owned by `graft.operators.Dedup`.
  */
object Sketches {

  /** Engine-portable 60-bit string hash: the first 15 hex characters
    * of md5, read base-16 — i.e. exactly what ANSI SQL computes as
    * `('0x' || substring(md5(s), 1, 15))::BIGINT` (DuckDB) or
    * `conv(substring(md5(s), 1, 15), 16, 10)` (Spark). 60 bits keeps
    * the value inside a signed 64-bit integer in every engine, so the
    * sketches built on it can be re-derived bit-for-bit by the DuckDB
    * oracle. md5 costs ~3× murmur per shingle but is paid once per
    * shingle, off the per-slot hot loop. Digest + nibble extraction
    * delegate to [[BloomHash]], the one md5 owner.
    */
  @inline private[plans] def md5Hash60(s: UTF8String): Long =
    BloomHash.hi60(BloomHash.digest(s))

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def simhash64(shingles: Column): Column =
    column(SimHash64Expr(expression(shingles)))

  def minhashSignature(shingles: Column, k: Int): Column =
    column(MinHashSigExpr(expression(shingles), k))

  def wordShingles(text: Column, n: Int): Column =
    column(ShinglesExpr(expression(text), n))
}

/** Word n-gram shingles of a space-separated string, as one native
  * pass: split + sliding join. Matches the HOF reference
  * (`TextFunctions.wordShinglesHof`) exactly, including Spark `split`
  * empty-token semantics, but without 2×|tokens| interpreted lambda
  * evals per row. Fewer than n tokens → empty array.
  */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  private val space = UTF8String.fromString(" ")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].split(space, -1)
    val m = toks.length - n + 1
    if (m <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        out(i) = UTF8String.concatWs(space,
          java.util.Arrays.copyOfRange(toks, i, i + n): _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): ShinglesExpr =
    copy(child = c)
}

/** 60-bit SimHash of an array<string>: per bit position, sum ±1
  * across elements by that bit of the element's portable md5-derived
  * hash ([[Sketches.md5Hash60]]); bit set iff positive. One string
  * hash per element. 60 bits (not 64) so the DuckDB oracle can
  * recompute the identical sketch in signed-BIGINT arithmetic.
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](60)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Sketches.md5Hash60(arr.getUTF8String(i))
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): SimHash64Expr =
    copy(child = c)
}

/** MinHash signature of an array<string>: each element hashed once to
  * a portable 60-bit value ([[Sketches.md5Hash60]]) reduced mod
  * p = 2³¹−1, then k affine permutations
  * h_j(x) = (a_j·x + b_j) mod p with index-derived coefficients
  * a_j = (j·2654435761) mod (p−1) + 1, b_j = (j·40503) mod p; slot j
  * is the minimum over elements. Every step stays below 2⁶³, so the
  * DuckDB oracle reproduces the signature exactly in BIGINT SQL.
  * Empty input → Long.MaxValue slots.
  */
case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val coefs: (Array[Long], Array[Long]) = {
    val p = MinHashSigExpr.P
    (Array.tabulate(k)(j => (j * 2654435761L) % (p - 1) + 1),
      Array.tabulate(k)(j => (j * 40503L) % p))
  }

  override def nullSafeEval(input: Any): Any = {
    val p = MinHashSigExpr.P
    val (ca, cb) = coefs
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Sketches.md5Hash60(arr.getUTF8String(i)) % p
        var j = 0
        while (j < k) {
          val v = (ca(j) * h + cb(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

object MinHashSigExpr {
  /** Mersenne prime 2³¹−1: products a_j·h stay under 2⁶² (no signed
    * overflow in any engine's BIGINT).
    */
  val P: Long = 2147483647L
}

/** All sign-random-projection LSH bucket ids of a numeric vector in
  * one pass: `tables` buckets, each packing `bitsPerTable` hyperplane
  * sign bits (left-to-right double accumulation, `>= 0` bit).
  * Elements are read through [[NumericVecPairExpr.reader]], so float
  * and double vectors bucket alike; a plane and a vector of different
  * lengths project over their common prefix.
  */
case class LshBucketsExpr(child: Expression,
    planes: Seq[IndexedSeq[Double]], tables: Int, bitsPerTable: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    NumericVecPairExpr.check("lsh_buckets", child)

  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  @transient private lazy val get = NumericVecPairExpr.reader(child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = vec.numElements()
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0
      var j = 0
      while (j < bitsPerTable) {
        val plane = planeArr(t * bitsPerTable + j)
        val m = math.min(n, plane.length)
        var dot = 0.0
        var i = 0
        while (i < m) {
          dot += plane(i) * get(vec, i)
          i += 1
        }
        if (dot >= 0) bucket |= (1 << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): LshBucketsExpr =
    copy(child = c)
}

object LshBucketsExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  def lsh_buckets(vec: Column, planes: Array[Array[Double]],
      tables: Int, bitsPerTable: Int): Column =
    column(LshBucketsExpr(expression(vec),
      planes.map(_.toIndexedSeq).toSeq, tables, bitsPerTable))
}

/** IVF coarse quantizer: all centroid indices of a numeric vector,
  * ranked by [[CosineSimExpr]] (descending; ties by ascending index).
  * Element 1 is the vector's cell assignment; the first nprobe
  * elements are the query's probe list. The centroid matrix rides
  * along as a literal (it is small by construction — O(√N) rows
  * collected once at plan time), so assignment is map-side: no
  * shuffle, no join, one cosine per centroid per row. The DuckDB
  * oracle replays the same cosine, so it ranks identically.
  *
  * A centroid whose cosine is null (a zero centroid) ranks after
  * every scored one, then by index. A vector that scores against no
  * centroid (null or zero-norm vector, a null element, a dimension
  * the centroids do not have) gets null: it joins no cell.
  */
case class NearestCellsExpr(child: Expression,
    cents: Seq[IndexedSeq[Double]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    NumericVecPairExpr.check("nearest_cells", child)

  @transient private lazy val ranker =
    NearestCellsExpr.ranker(child.dataType, cents.map(_.toArray))

  override def nullSafeEval(input: Any): Any = ranker(input)

  override protected def withNewChildInternal(c: Expression): NearestCellsExpr =
    copy(child = c)
}

/** [[NearestCellsExpr]] with the centroid matrix carried as a Spark
  * broadcast variable instead of a plan-time literal. Semantically
  * identical (same cosine, same ranking); structurally different at
  * scale: the expression tree holds only a broadcast HANDLE, so plan
  * size, plan serialization, and codegen constant-pool pressure stay
  * O(1) in nCells — executors fetch the matrix once per JVM through
  * the torrent broadcast, not once per task closure. This is the
  * required shape once nCells·dim outgrows what a literal can carry
  * (√N ≈ 3·10⁵ centroids at the 100 TB corner).
  */
case class NearestCellsBcastExpr(child: Expression,
    bcast: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    NumericVecPairExpr.check("nearest_cells", child)

  @transient private lazy val ranker =
    NearestCellsExpr.ranker(child.dataType, bcast.value.toSeq)

  override def nullSafeEval(input: Any): Any = ranker(input)

  override protected def withNewChildInternal(
      c: Expression): NearestCellsBcastExpr = copy(child = c)
}

object NearestCellsExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** The ONE cell-ranking body both variants evaluate (literal and
    * broadcast centroids differ only in where the matrix comes
    * from): each centroid is scored by the cosine kernel, with the
    * centroid as its left and the vector (of type `vecType`) as its
    * right input.
    */
  private[plans] def ranker(vecType: DataType,
      cents: Seq[Array[Double]]): Any => ArrayData = {
    val cos = graft.functions.VectorFunctions.cosineKernel(
      ArrayType(DoubleType, containsNull = false), vecType)
    val carr: Array[ArrayData] =
      cents.map(c => UnsafeArrayData.fromPrimitiveArray(c): ArrayData).toArray
    val m = carr.length
    vec => {
      val score = new Array[Double](m)
      val scored = new Array[Boolean](m)
      var any = false
      var c = 0
      while (c < m) {
        cos.nullSafeEval(carr(c), vec) match {
          case s: Double => score(c) = s; scored(c) = true; any = true
          case _ =>
        }
        c += 1
      }
      if (!any) null
      else new GenericArrayData(Array.range(0, m)
        .sortBy(i => (!scored(i), -score(i), i)).map(i => i: Any))
    }
  }

  def nearest_cells(vec: Column, cents: Array[Array[Double]]): Column =
    column(NearestCellsExpr(expression(vec),
      cents.map(_.toIndexedSeq).toSeq))
  def nearest_cells_bcast(vec: Column,
      b: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): Column =
    column(NearestCellsBcastExpr(expression(vec), b))
}
