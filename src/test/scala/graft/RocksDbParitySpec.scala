package graft

/** RocksDB-provider parity for the keyed-fold streaming twins
  * (VERDICT r9 #4): at 100 TB keyed state must survive state > heap,
  * which means the RocksDB state store, and a twin whose
  * encoder/state class misbehaves under the provider's
  * serialize-every-access regime would silently diverge. The
  * latest-cache twin has its own v1==v2 leg (StreamingSpec); this
  * spec runs every twin in the [[StreamTwins]] table twice over
  * identical micro-batch splits, default provider vs
  * RocksDBStateStoreProvider, and requires identical output rows.
  */
class RocksDbParitySpec extends SparkSpec with StreamTwins {

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run the twin under both providers, identical feed and splits;
    * outputs must match as multisets. Every leg uses the same uneven
    * 1/4 + 1/3-of-the-rest split. */
  private def parity[I, O](t: Twin[I, O]): Unit = {
    val label = t.label
    val v1 = replay(t, 4, 3)
    val v2 = withRocksDb(replay(t, 4, 3))
    assert(v1.rows.nonEmpty,
      s"$label: default-provider run emitted nothing — parity vacuous")
    assert(!v1.sawRocksDb, s"$label: default leg reported rocksdb metrics — " +
      "the provider conf leaked between legs")
    assert(v2.sawRocksDb, s"$label: RocksDB leg reported NO rocksdb state " +
      "metrics — the provider conf did not take effect, parity vacuous")
    val (s1, s2) =
      (v1.rows.map(_.toString).sorted, v2.rows.map(_.toString).sorted)
    assert(s1 == s2, s"$label: RocksDB output diverges from the " +
      s"default provider — first diff: ${
        s1.zipAll(s2, "<missing>", "<missing>")
          .find { case (x, y) => x != y }.getOrElse(("", ""))}")
  }

  twins.foreach { t =>
    test(s"${t.label}: RocksDB == default provider")(parity(t))
  }
}
