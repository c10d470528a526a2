package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** One document arriving on the stream. */
case class DocEvent(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** Streaming parity for the batch MinHash-LSH dedup family
  * ([[graft.operators.Dedup.minhashLshPairs]]): near-dup CANDIDATE
  * detection as documents arrive, instead of as a corpus-wide batch
  * pass.
  *
  * Shape: the shingle set, signature and banding are batch's own
  * ([[Dedup.shingleSet]], [[Dedup.bandRows]]: stateless, codegen'd,
  * constant k-slot work per doc); candidate generation is a
  * stream–stream self-join on (band, band_key) where both sides
  * carry watermarks and the join condition bounds event time in both
  * directions — so the join state Spark keeps is exactly "band keys
  * within the horizon", sized by arrival rate × horizon, never by
  * corpus size. Survivors are verified with the exact per-pair
  * Jaccard, map-side, before anything is emitted.
  *
  * Emission is per colliding band (a pair sharing several bands
  * surfaces once per band): collapsing those duplicates in-stream
  * would chain a second stateful operator onto the join; consumers
  * that need exactly-once pairs aggregate downstream (the spec
  * distincts; a production sink would upsert). This mirrors the
  * batch operator's candidate stage before its `.distinct()`.
  */
object StreamDedup {

  /** `(doc_id, ts, shs, band, band_key)` for each arriving doc with a
    * non-empty shingle set — batch's shingling and banding, row by row.
    */
  private def banded(docs: Dataset[DocEvent], n: Int, k: Int,
      bands: Int): DataFrame =
    Dedup.bandRows(
      docs.toDF().withColumn("shs", Dedup.shingleSet(col("text"), n)),
      Seq("doc_id", "ts", "shs"), k, bands)

  /** Near-dup candidate pairs (id_a < id_b, exact jaccard ≥
    * `threshold`) between documents arriving within `horizon` of
    * each other, watermarked by `watermark`.
    */
  def lshCandidates(docs: Dataset[DocEvent], watermark: String,
      horizon: String, n: Int = 3, k: Int = 128, bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    val rows = banded(docs, n, k, bands)
    def side(tag: String): DataFrame = rows
      .select(col("doc_id").as(s"${tag}_id"), col("ts").as(s"${tag}_ts"),
        col("shs").as(s"${tag}_shs"), col("band").as(s"${tag}_band"),
        col("band_key").as(s"${tag}_key"))
      .withWatermark(s"${tag}_ts", watermark)
    val a = side("a")
    val b = side("b")
    a.join(b,
        col("a_band") === col("b_band") && col("a_key") === col("b_key") &&
          col("a_id") < col("b_id") &&
          col("b_ts") >= col("a_ts") - expr(s"interval $horizon") &&
          col("b_ts") <= col("a_ts") + expr(s"interval $horizon"))
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"),
        col("a_band").as("band"),
        Dedup.jaccard(col("a_shs"), col("b_shs")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Streaming ingest against a STATIC indexed corpus — the
    * streaming form of
    * [[graft.operators.Dedup.minhashLshIncremental]]: each arriving
    * doc is banded (same portable sketch pipeline) and matched
    * against the corpus's band-key index, then exact-verified against
    * the corpus shingle sets. Stream–static joins are STATELESS — no
    * watermark, no join state, nothing grows with uptime; the static
    * side is persisted once and reused across micro-batches (in
    * production: the stored, bucketed index snapshot, refreshed by
    * re-starting the query on a new snapshot). Emits one row per
    * colliding band like [[lshCandidates]]; consumers dedup
    * downstream.
    */
  def lshCandidatesVsIndex(docs: Dataset[DocEvent], corpus: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 128,
      bands: Int = 32, threshold: Double = 0.5): DataFrame = {
    val idx = Dedup.lshBandKeys(corpus, idCol, textCol, n, k, bands)
      .select(col("id").as("corpus_id"), col("band").as("c_band"),
        col("band_key").as("c_key"))
    val corpusSets = Dedup.shingleSets(corpus, idCol, textCol, n)
      .select(col("id").as("corpus_id"), col("shs").as("c_shs"))
    banded(docs, n, k, bands).withColumnRenamed("doc_id", "new_id")
      .join(idx, col("band") === col("c_band") &&
        col("band_key") === col("c_key") &&
        col("new_id") =!= col("corpus_id"))
      .join(corpusSets, "corpus_id")
      .select(col("new_id"), col("corpus_id"), col("band"),
        Dedup.jaccard(col("shs"), col("c_shs")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
