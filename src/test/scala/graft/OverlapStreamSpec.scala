package graft

/** Stream/batch parity for the audience-overlap Jaccard matrix:
  * replaying the event table through the per-user type-set tracker
  * must reproduce `q_user_overlap_jaccard` cell-for-cell from the
  * LATEST emission per user — and each user must emit at most
  * |their distinct types| rows (growth-only emission, the bound
  * that keeps the append stream retraction-free).
  */
class OverlapStreamSpec extends SparkSpec with StreamTwins {

  test("latest per-user type sets reproduce q_user_overlap_jaccard") {
    val batch = SparkEntry.queries("q_user_overlap_jaccard")(
        spark, sf("0.001"))
      .collect()
      .map(r => (r.getAs[String]("ta"), r.getAs[String]("tb")) ->
        (r.getAs[Long]("na"), r.getAs[Long]("nb"),
          r.getAs[Long]("n_both"), r.getAs[Double]("jaccard")))
      .toMap
    assert(batch.nonEmpty)

    val emissions = replay(overlap).rows.map(s => (s.user_id, s.types))

    // growth-only emission bound: ≤ |distinct types| rows per user,
    // strictly growing set sizes
    emissions.zipWithIndex.groupBy(_._1._1).foreach {
      case (uid, rows) =>
        val sizes = rows.sortBy(_._2).map(_._1._2.size)
        assert(sizes == sizes.sorted && sizes.distinct == sizes,
          s"user $uid emitted non-growing sets: $sizes")
    }

    // the latest emission per user IS the batch distinct aggregate
    val finalSets = emissions.zipWithIndex.groupBy(_._1._1)
      .map { case (uid, rows) => uid -> rows.maxBy(_._2)._1._2.toSet }
    val sizes = finalSets.values.toSeq.flatten
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val streamed = (for {
      (_, ts) <- finalSets.toSeq
      a <- ts; b <- ts if a < b
    } yield (a, b)).groupBy(identity)
      .map { case ((a, b), xs) =>
        val (na, nb, both) = (sizes(a), sizes(b), xs.size.toLong)
        val j = BigDecimal(both.toDouble / (na + nb - both))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (a, b) -> (na, nb, both, j)
      }
    assert(streamed == batch,
      s"overlap parity broken:\n stream=$streamed\n batch=$batch")
  }
}
