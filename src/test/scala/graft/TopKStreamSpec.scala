package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery}
import graft.streaming.{StreamTopK, TKEvent, TopKEstimate}

/** Space-Saving top-k: exact-parity with the batch aggregate when
  * capacity covers the distinct-item domain, the classic
  * over/under-count guarantees when it doesn't, and checkpointed
  * restart recovery of the counters map itself.
  */
class TopKStreamSpec extends SparkSpec with StreamTwins {
  import spark.implicits._

  private type Tagged = (Long, TopKEstimate)

  /** foreachBatch sink that records the batch id with every emitted
    * row: "the final sketch state" is then literally the rows of the
    * last EMITTING batch — no last-k sink-index arithmetic, which
    * mixed rows from two batches whenever a batch emitted fewer than
    * k rows (ADVICE r8). The replayed tests get the same per-batch
    * rows from [[SparkSpec.replay]].
    */
  private def taggedSink(out: Dataset[TopKEstimate])
      : (scala.collection.mutable.ArrayBuffer[Tagged],
         DataStreamWriter[TopKEstimate]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Tagged]
    val w = out.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (ds: Dataset[TopKEstimate], batchId: Long) =>
        val rows = ds.collect()
        buf.synchronized(rows.foreach(r => buf += batchId -> r))
      }
    (buf, w)
  }

  /** Rows of the last emitting batch (the sketch's end state). */
  private def lastEmitting(buf: scala.collection.mutable.ArrayBuffer[Tagged])
      : Seq[TopKEstimate] = buf.synchronized {
    if (buf.isEmpty) Seq.empty
    else {
      val lb = buf.map(_._1).max
      buf.collect { case (b, r) if b == lb => r }.toSeq
    }
  }

  test("capacity ≥ distinct items ⇒ stream top-k == batch exact top-k") {
    val ev = Tables(spark, sf(), "events")
      .select(col("event_id"), col("event_type"),
        col("user_id").cast("string").as("item"))
    val batch = ev.groupBy(col("event_type"), col("item"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val distinctItems = batch.keySet.groupBy(_._1).map {
      case (et, ks) => et -> ks.size
    }

    // capacity 512 > any key's distinct users (≤150 at sf0.001)
    val emitted = replay(topK.feed, topK.splits: _*)(
      StreamTopK.topK(_, capacity = 512, k = 5))
    // per KEY, the key's last emitting batch is its end state
    val streamed = emitted.batches.flatMap(_.groupBy(_.event_type))
      .groupMap(_._1)(_._2).map { case (et, rows) => et -> rows.last }

    // non-vacuity + coverage: a stream that stops emitting (overall
    // or for one event_type) must fail here, not skip the loop below
    assert(streamed.nonEmpty, "stream emitted nothing")
    assert(streamed.keySet == distinctItems.keySet,
      s"stream keys ${streamed.keySet} != batch ${distinctItems.keySet}")
    streamed.foreach { case (et, rows) =>
      assert(distinctItems(et) <= 512, "fixture outgrew capacity")
      rows.foreach { r =>
        assert(r.err == 0L,
          s"exact regime must carry zero error: $et/${r.item}")
        assert(r.est == batch((et, r.item)),
          s"$et/${r.item}: stream ${r.est} != batch ${batch((et, r.item))}")
      }
      // the stream's top-5 IS the batch top-5 (count desc, item asc)
      val batchTop = batch.toSeq.collect {
        case ((e, i), n) if e == et => (i, n)
      }.sortBy { case (i, n) => (-n, i) }.take(5).map(_._1)
      val streamTop = rows.sortBy(_.rank).map(_.item)
      assert(streamTop.sameElements(batchTop),
        s"$et: stream ${streamTop.toSeq} != batch ${batchTop.toSeq}")
    }
  }

  test("bounded capacity ⇒ Space-Saving guarantees on a skewed feed") {
    val feed = (Seq.fill(500)("A") ++ Seq.fill(300)("B") ++
      Seq.fill(200)("C") ++ (1 to 50).map(i => s"rare$i"))
      .zipWithIndex.map { case (item, i) =>
        TKEvent(i.toLong, "k", item)
      }
    val truth = feed.groupBy(_.item).map { case (i, es) =>
      i -> es.size.toLong
    }
    val rows = replay(feed, 2)(StreamTopK.topK(_, capacity = 8, k = 8))
      .batches.filter(_.nonEmpty).lastOption.getOrElse(Seq.empty)
    assert(rows.size == 8, s"final emission should carry k=8 rows: $rows")

    val byItem = rows.map(r => r.item -> r).toMap
    // every item with true count > n/capacity must be retained
    val n = feed.size
    truth.filter(_._2 > n / 8).keys.foreach { hot =>
      assert(byItem.contains(hot), s"guaranteed heavy hitter $hot evicted")
    }
    // Space-Saving bounds: true ≤ est ≤ true + err
    byItem.foreach { case (item, r) =>
      val t = truth.getOrElse(item, 0L)
      assert(r.est >= t, s"$item undercounted: est=${r.est} true=$t")
      assert(r.est - r.err <= t,
        s"$item: est-err=${r.est - r.err} exceeds true=$t")
    }
  }

  test("checkpointed restart recovers the Space-Saving sketch (file source)") {
    // K2 depth beyond the windowed-agg restart gate (StreamingSpec):
    // CUSTOM flatMapGroupsWithState state — the counters map itself —
    // must come back from the checkpoint. Durable JSON source +
    // foreachBatch (the production recoverable sink).
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-topk-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-topk-ckpt").toString
    def writeFile(name: String, events: Seq[(Long, String)]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(srcDir, name),
        events.map { case (id, item) =>
          s"""{"event_id":$id,"event_type":"k","item":"$item"}"""
        }.mkString("\n").getBytes("UTF-8"))
    def start(): (scala.collection.mutable.ArrayBuffer[Tagged],
        StreamingQuery) = {
      val events = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[TKEvent]].schema)
        .json(srcDir).as[TKEvent]
      val (buf, writer) =
        taggedSink(StreamTopK.topK(events, capacity = 8, k = 8))
      (buf, writer.option("checkpointLocation", ckpt).start())
    }
    writeFile("a.json", Seq(1L -> "A", 2L -> "A", 3L -> "B"))
    val (buf1, q1) = start()
    try q1.processAllAvailable() finally q1.stop()
    val afterRun1 = buf1.synchronized {
      buf1.map { case (_, r) => r.item -> r.est }.toMap
    }
    assert(afterRun1.get("A").contains(2L) &&
      afterRun1.get("B").contains(1L),
      s"run 1 should count A=2 B=1: $afterRun1")
    // new arrivals while the query is down; delete the processed
    // file so a checkpoint-IGNORING restart would see only b.json
    // and emit A=1 — A=3 below can only come from recovered counters
    writeFile("b.json", Seq(4L -> "A", 5L -> "C"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(srcDir, "a.json"))
    val (buf2, q2) = start()
    try {
      q2.processAllAvailable()
      val est = lastEmitting(buf2).map(r => r.item -> r.est).toMap
      assert(est.get("A").contains(3L),
        s"recovered sketch must continue A at 3 (2 + 1): $est")
      assert(est.get("B").contains(1L) && est.get("C").contains(1L),
        s"recovered B + new C expected: $est")
    } finally q2.stop()
  }
}
