package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the portable bloom filter
  * (`graft.operators.BloomJoin`).
  *
  * A pure-Column formulation evaluates `md5(key)` once per hash
  * function per USE of the bit position — six digests per fact row at
  * `hashes = 3` (each position feeds both a word index and a shift
  * amount, and Spark's optimizer inlines aliases through Project when
  * it pushes the filter down, so there is no place to stash the
  * digest in the plan). These expressions digest each key ONCE and
  * derive all positions by Kirsch–Mitzenmacher double hashing
  * (ESA'06: two hash values h1, h2 simulate any number of bloom hash
  * functions via h1 + j·h2 without loss of the false-positive
  * bound):
  *
  *   h1 = hex chars  1..15 of md5(key)  (60 bits, signed-safe)
  *   h2 = hex chars 17..31 of md5(key)  (60 bits, signed-safe)
  *   pos_j = (h1 mod m + j·(h2 mod (m−1) + 1)) mod m,   m = words·63
  *
  * Every step is nonneg BIGINT arithmetic below 2⁶³, so the DuckDB
  * oracle replays the exact bit set — the false-positive SET itself
  * is deterministic and cross-engine-checkable, same recipe as the
  * MinHash/SimHash sketches ([[Sketches.md5Hash60]]).
  *
  * The one owner of md5 in the program: the sketches, `StreamArith`
  * and the LSH planes digest here and read prefixes with [[hi60]].
  */
object BloomHash {

  // per-thread: one digest per record or shingle on the hot path
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Raw md5 of `bytes` (`digest()` resets the instance). */
  @inline private[graft] def digest(bytes: Array[Byte]): Array[Byte] =
    md5Local.get().digest(bytes)

  /** Raw md5 of the string's UTF-8 bytes. */
  @inline private[graft] def digest(s: UTF8String): Array[Byte] =
    digest(s.getBytes)

  /** Hex nibbles 0..14 of the digest as a 60-bit long — identical to
    * `('0x' || substring(md5(s), 1, 15))::BIGINT` (DuckDB) and
    * `conv(substring(md5(s), 1, 15), 16, 10)` (Spark).
    */
  @inline private[graft] def hi60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Hex nibbles 16..30 — `substring(md5(s), 17, 15)` read base-16. */
  @inline private[graft] def lo60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 8
    while (i < 15) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(15) & 0xf0L) >>> 4)
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def bloomPositions(key: Column, words: Int, hashes: Int): Column =
    column(BloomPosExpr(expression(key), words, hashes))

  def bloomMightContain(key: Column, bloom: Column,
      words: Int, hashes: Int): Column =
    column(BloomMightContainExpr(expression(key), expression(bloom),
      words, hashes))
}

/** All `hashes` bit positions of a string key in a `words·63`-slot
  * bloom, one md5 digest total (build side: explode → bit_or).
  */
case class BloomPosExpr(child: Expression, words: Int, hashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "bloom_positions"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val d = BloomHash.digest(input.asInstanceOf[UTF8String])
    val m = words.toLong * 63L
    val b1 = BloomHash.hi60(d) % m
    val step = BloomHash.lo60(d) % (m - 1L) + 1L
    val out = new Array[Any](hashes)
    var j = 0
    while (j < hashes) { out(j) = (b1 + j * step) % m; j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): BloomPosExpr =
    copy(child = c)
}

/** Probe side: true iff every one of the key's `hashes` bits is set
  * in `bloom` (array<long>, 63 bits per word). One md5 digest per
  * row, tight loop, early exit on the first clear bit.
  */
case class BloomMightContainExpr(left: Expression, right: Expression,
    words: Int, hashes: Int)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "bloom_might_contain"

  override def dataType: DataType = BooleanType

  override def nullSafeEval(k: Any, bl: Any): Any = {
    val d = BloomHash.digest(k.asInstanceOf[UTF8String])
    val bloom = bl.asInstanceOf[ArrayData]
    val m = words.toLong * 63L
    val b1 = BloomHash.hi60(d) % m
    val step = BloomHash.lo60(d) % (m - 1L) + 1L
    var j = 0
    while (j < hashes) {
      val p = (b1 + j * step) % m
      val w = bloom.getLong((p / 63L).toInt)
      if (((w >>> (p % 63L).toInt) & 1L) == 0L) return false
      j += 1
    }
    true
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): BloomMightContainExpr = copy(left = l, right = r)
}

/** Broadcast-index as-of lookup (the streaming member of the as-of
  * family, `graft.operators.AsOfJoin.asOfStatic`): per row, binary
  * search the key's sorted (ts, payload) arrays for the last entry
  * at or before ts. The index rides a Spark broadcast (same shape as
  * [[NearestCellsBcastExpr]]): the expression tree carries only the
  * handle, executors fetch once per JVM. Null key/ts → null; no
  * match → null.
  */
case class AsOfLookupExpr(left: Expression, right: Expression,
    bcast: org.apache.spark.broadcast.Broadcast[
      Map[Long, (Array[Long], Array[String])]])
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "asof_lookup"

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def nullSafeEval(k: Any, t: Any): Any =
    bcast.value.get(k.asInstanceOf[Long]) match {
      case None => null
      case Some((tss, payloads)) =>
        val ts = t.asInstanceOf[Long]
        var lo = 0
        var hi = tss.length - 1
        var ans = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (tss(mid) <= ts) { ans = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        if (ans < 0) null
        else org.apache.spark.unsafe.types.UTF8String
          .fromString(payloads(ans))
    }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): AsOfLookupExpr = copy(left = l, right = r)
}
