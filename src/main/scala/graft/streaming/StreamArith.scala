package graft.streaming

/** Shared micro-arithmetic for the stream twins. Every helper here
  * encodes a stream==batch PARITY CONTRACT — µs-precision event
  * ordering (`java.sql.Timestamp.getTime` is ms-truncated, not
  * enough when the batch side orders by `unix_micros`), the HALF_UP
  * rounding/quantization grid the DuckDB oracles pin, and the
  * md5-prefix hashes the batch SQL derives with
  * `conv(substring(md5(x), 1, n), 16, 10)`. One definition each,
  * called directly: a fix applied to one copy but not another would
  * silently break parity for the unpatched operators. The md5 helpers
  * delegate to [[graft.plans.BloomHash]], the one md5 owner the batch
  * sketches use too.
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

  /** Raw md5 of the UTF-8 bytes, through the program's one digest
    * ([[graft.plans.BloomHash.digest]]). */
  def md5Bytes(s: String): Array[Byte] =
    graft.plans.BloomHash.digest(s.getBytes("UTF-8"))

  /** 60-bit md5-prefix hash — bit-identical to the batch SQL's
    * `conv(substring(md5(s), 1, 15), 16, 10)`
    * ([[graft.plans.BloomHash.hi60]]).
    */
  def hash60(s: String): Long = graft.plans.BloomHash.hi60(md5Bytes(s))
}
