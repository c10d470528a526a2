package graft.streaming

/** Shared micro-arithmetic for the stream twins. Every helper here
  * encodes a stream==batch PARITY CONTRACT — µs-precision event
  * ordering (`java.sql.Timestamp.getTime` is ms-truncated, not
  * enough when the batch side orders by `unix_micros`), the HALF_UP
  * rounding/quantization grid the DuckDB oracles pin, and the
  * md5-prefix hashes the batch SQL derives with
  * `conv(substring(md5(x), 1, n), 16, 10)`. One definition each,
  * called directly: a fix applied to one copy but not another would
  * silently break parity for the unpatched operators.
  */
private[graft] object StreamArith {

  /** Full-µs epoch of a Timestamp (getTime is ms-truncated). */
  def micros(ts: java.sql.Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** The oracle-pinned readout grid: HALF_UP at 4 decimals. */
  def round4(v: Double): Double =
    BigDecimal.decimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** DECIMAL(·,6) quantization — the repo's exact-sum idiom. */
  def dec6(v: Double): BigDecimal =
    BigDecimal.decimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** HALF_UP at 6 decimals as a double — round4's sibling readout
    * grid (uplift SE). */
  def round6(v: Double): Double = dec6(v).toDouble

  // per-thread digest (hot path: one call per record) — the
  // SketchExpressions idiom, never a per-record getInstance
  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Raw md5 of the UTF-8 bytes (digest() resets the instance). */
  def md5Bytes(s: String): Array[Byte] =
    md5Local.get().digest(s.getBytes("UTF-8"))

  /** 60-bit md5-prefix hash — bit-identical to the batch SQL's
    * `conv(substring(md5(s), 1, 15), 16, 10)`: the first 15 hex
    * nibbles are bytes 0–6 plus the high nibble of byte 7, built
    * numerically (no hex-string allocation on the hot path).
    */
  def hash60(s: String): Long = {
    val d = md5Bytes(s)
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    (acc << 4) | ((d(7) & 0xf0L) >>> 4)
  }
}
