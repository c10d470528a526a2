package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Native Catalyst expressions for the dedup sketches.
  *
  * The pure higher-order-function formulations (TextFunctions) are
  * correct but interpreted — Spark's lambda functions don't
  * participate in codegen, and the sketches hash every shingle k (or
  * 64) times. At sf0.1 that made the two sketch queries ~400 s each.
  * These expressions hash each shingle ONCE and run the k-slot /
  * 64-bit loops as tight JVM loops: the same queries drop to
  * sub-second (see BENCH_r*.json).
  *
  * This is preference order (b) from the build brief: a scalar
  * `Expression` where built-ins can't express the computation
  * efficiently — no custom LogicalPlan/Strategy needed.
  *
  * The md5 prefix the portable sketches hash with is owned by
  * [[BloomHash]]; the shingle → signature → band pipeline built on
  * these expressions is owned by `graft.operators.Dedup`.
  */
object Sketches {

  /** xxhash64-style avalanche of one long (xxh64 finalizer). */
  @inline private[plans] def mix(z0: Long): Long = {
    var z = z0
    z ^= z >>> 33
    z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33
    z *= 0xc4ceb9fe1a85ec53L
    z ^= z >>> 33
    z
  }

  /** Hash a UTF8String to a long (murmur3 x86 32 doubled + mix —
    * stable across JVMs/executors, cheap, good avalanche).
    */
  @inline private[plans] def hashString(s: UTF8String): Long = {
    val h1 = Murmur3_x86_32.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes(), 42)
    val h2 = Murmur3_x86_32.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x9747b28c)
    mix((h1.toLong << 32) | (h2.toLong & 0xffffffffL))
  }

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

/** All sign-random-projection LSH bucket ids of an array<float>
  * vector in one pass: `tables` buckets, each packing `bitsPerTable`
  * hyperplane sign bits. Replaces the HOF formulation (one
  * interpreted zip_with+aggregate per plane — 32 lambda evals per
  * row) with a single tight loop over the plane matrix; same bits,
  * same semantics (left-to-right double accumulation, `>= 0` bit).
  */
case class LshBucketsExpr(child: Expression,
    planes: Seq[IndexedSeq[Double]], tables: Int, bitsPerTable: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

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
          dot += plane(i) * vec.getFloat(i)
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

/** IVF coarse quantizer: all centroid indices of an array<float>
  * vector, ranked by exact double-precision cosine (descending; ties
  * by ascending index). Element 1 is the vector's cell assignment;
  * the first nprobe elements are the query's probe list. The centroid
  * matrix rides along as a literal (it is small by construction —
  * O(√N) rows collected once at plan time), so assignment is
  * map-side: no shuffle, no join, one fused loop per row. The cosine
  * is computed with the same formula/associativity as
  * [[CosineSimExpr]], so an engine that replays the formula (the
  * DuckDB oracle) ranks identically.
  */
case class NearestCellsExpr(child: Expression,
    cents: Seq[IndexedSeq[Double]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  @transient private lazy val carr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    NearestCellsExpr.rankCells(carr, input)

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

  override def nullSafeEval(input: Any): Any =
    NearestCellsExpr.rankCells(bcast.value, input)

  override protected def withNewChildInternal(
      c: Expression): NearestCellsBcastExpr = copy(child = c)
}

object NearestCellsExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** The ONE cosine-rank body both variants evaluate (literal and
    * broadcast centroids differ only in where the matrix comes
    * from); the oracle-parity contract — same formula, same
    * associativity, ties by ascending index — lives here once, so a
    * future numeric fix cannot desynchronize the two.
    */
  private[plans] def rankCells(carr: Array[Array[Double]],
      input: Any): GenericArrayData = {
    val vec = input.asInstanceOf[ArrayData]
    val n = vec.numElements()
    val m = carr.length
    val cos = new Array[Double](m)
    var c = 0
    while (c < m) {
      val cent = carr(c)
      val d = math.min(n, cent.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < d) {
        val x = cent(i)
        val y = vec.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      cos(c) = dot / math.sqrt(na * nb)
      c += 1
    }
    val idx = Array.range(0, m).sortBy(i => (-cos(i), i))
    new GenericArrayData(idx.map(i => i: Any))
  }
  def nearest_cells(vec: Column, cents: Array[Array[Double]]): Column =
    column(NearestCellsExpr(expression(vec),
      cents.map(_.toIndexedSeq).toSeq))
  def nearest_cells_bcast(vec: Column,
      b: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): Column =
    column(NearestCellsBcastExpr(expression(vec), b))
}
