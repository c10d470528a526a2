package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Similarity
import graft.functions.VectorFunctions

/** Similarity-search corpus over `embeddings` (north-star extension).
  * The exact kNN queries are oracle-checked; the two exact variants
  * (window vs bounded-aggregator) share the same oracle because they
  * must produce identical rows. The two ANN variants (LSH tables,
  * IVF cells) are approximate w.r.t. the brute-force truth but fully
  * deterministic and engine-portable, so they are ALSO oracle-exact;
  * SimilaritySpec additionally gates their recall.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    // (r13: a fanOut here measured SLOWER for the iterative
    // consumers — power-iteration re-executes the un-cached exchange
    // per round, 0.74 → 1.53 s — and flat for the rest; the PQ path
    // fans out inside its own subvector cache instead.)
    Tables(s, dir, "embeddings")

  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < 5)

  private val knnOracle =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
       scored AS (
         SELECT q.vec_id AS q_id, v.vec_id AS id,
           list_sum([q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE
                     for i in range(1, len(q.embedding) + 1)]) /
           sqrt(
             list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE
                       for i in range(1, len(q.embedding) + 1)]) *
             list_sum([v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE
                       for i in range(1, len(v.embedding) + 1)])) AS cos
         FROM q JOIN embeddings v ON v.vec_id <> q.vec_id)
       SELECT q_id,
         CAST(row_number() OVER (PARTITION BY q_id
           ORDER BY cos DESC, id) AS INTEGER) AS rank,
         id, round(cos, 4) AS cos_sim
       FROM scored
       QUALIFY rank <= 5
       ORDER BY q_id, rank"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact kNN, window formulation (correctness baseline).
    "q_knn_bruteforce" -> { (s, dir) =>
      Similarity.topKBruteForce(emb(s, dir), queriesDf(s, dir),
          "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("rank"), col("id"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    },

    // Exact kNN via the bounded TopKAggregator — same rows, the
    // shuffle-light plan (map-side partial top-k).
    "q_knn_topk_agg" -> { (s, dir) =>
      Similarity.topKAggregated(emb(s, dir), queriesDf(s, dir),
          "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("rank"), col("id"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    },

    // LSH-bucketed ANN, 24 tables x 8 bits with Hamming-1 query-side
    // multi-probe (recall@5 >= 0.9, SimilaritySpec-gated). Portable
    // Rademacher planes make the full operator (bucketing ->
    // multi-probe candidates -> exact re-rank) exactly reproducible
    // in DuckDB.
    "q_ann_lsh" -> { (s, dir) =>
      Similarity.annLsh(emb(s, dir), queriesDf(s, dir),
          "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("rank"), col("id"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    },

    // IVF-Flat ANN: md5-sampled 32-cell coarse quantizer, assign-3
    // multi-assignment, probe-14 candidate lists, exact re-rank
    // (recall@5 >= 0.9, SimilaritySpec-gated). Fully deterministic
    // -> exact oracle.
    "q_ann_ivf" -> { (s, dir) =>
      Similarity.annIvf(emb(s, dir), queriesDf(s, dir),
          "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("rank"), col("id"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    },

    // SQ8 ANN: per-dimension [min,max] 8-bit scalar quantization,
    // shortlist-20 over dequantized codes (the 4x-smaller hot
    // representation), exact float re-rank of the shortlist only
    // (recall >= 0.9, SimilaritySpec-gated). Floor-grid quantizer ->
    // exact oracle.
    "q_ann_sq8" -> { (s, dir) =>
      Similarity.annSq8(emb(s, dir), queriesDf(s, dir),
          "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("rank"), col("id"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    },

    // PQ-ADC ANN: 8×16 product codebooks (deterministic Lloyd),
    // asymmetric lookup-table distances with exact DECIMAL ADC sums
    // ranking a shortlist, exact cosine re-rank for the final top-5
    // — the memory-tier compression path (64 floats → 8 codes at
    // scan time). Fully deterministic → the oracle replays
    // codebooks, codes, shortlist, and re-rank exactly.
    "q_ann_pq" -> { (s, dir) =>
      Similarity.annPq(emb(s, dir), queriesDf(s, dir),
          "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("rank"), col("id"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    },

    // Per-vector stats: norm / extremes / argmax over the embedding.
    "q_vector_stats" -> { (s, dir) =>
      val e = col("embedding")
      emb(s, dir).select(
        col("vec_id"),
        size(e).as("dim"),
        VectorFunctions.norm(e).as("l2_norm"),
        array_max(e).as("max_c"),
        array_min(e).as("min_c"),
        array_position(e, array_max(e)).as("argmax"))
        .orderBy(col("vec_id"))
    },

    // Top principal direction of the embedding corpus by THREE power
    // iterations on the (uncentered) Gram matrix — the whitening /
    // drift-probe primitive a vector pipeline runs without ever
    // materializing the d×d covariance: each pass is
    // s = X·v (per-row sequential-fold dot, bit-deterministic) →
    // w = Σ sᵢ·xᵢ (component explode + DECIMAL-quantized sums, the
    // repo idiom that makes a cross-row double reduction exact) →
    // v′ = w/‖w‖ (the norm itself a DECIMAL-quantized 64-term sum).
    // Everything between scans is dimension-sized (64 rows), so at
    // 100× rows the plan still moves |dim| values per pass and the
    // scans dominate — the textbook scale shape for streaming PCA.
    // λ (the Rayleigh estimate ‖w‖ of the top eigenvalue) rides
    // along. The oracle replays all three iterations exactly.
    "q_embed_power_iteration" -> { (s, dir) =>
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val dim = e.agg(min(size(col("embedding"))).as("dim"))
      var v = dim
        .select(explode(sequence(lit(1), col("dim"))).as("pos0"),
          col("dim"))
        .select(col("pos0").cast("long").as("pos"),
          (lit(1.0) / sqrt(col("dim"))).as("v"), lit(0.0).as("nrm"))
      for (_ <- 1 to 3) {
        val vArr = v.agg(transform(
          array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x.getField("v")).as("varr"))
        val scored = e.crossJoin(broadcast(vArr))
          .select(col("embedding"),
            VectorFunctions.dot(col("embedding"), col("varr")).as("s"))
        val w = scored
          .select(posexplode(col("embedding")), col("s"))
          .select((col("pos") + lit(1)).cast("long").as("pos"),
            (col("col").cast("double") * col("s")).as("xs"))
          .groupBy(col("pos"))
          .agg(sum(col("xs").cast("decimal(28,12)"))
            .cast("decimal(28,12)").as("wd"))
        val nrm = w.agg(sqrt(
          sum((col("wd").cast("double") * col("wd").cast("double"))
            .cast("decimal(28,12)")).cast("decimal(28,12)")
            .cast("double")).as("nrm"))
        v = w.crossJoin(broadcast(nrm))
          .select(col("pos"),
            (col("wd").cast("double") / col("nrm")).as("v"),
            col("nrm"))
      }
      v.select(col("pos").as("component"),
          round(col("v"), 6).as("loading"),
          round(col("nrm"), 4).as("lambda"))
        .orderBy(col("component"))
    },

    // Class-balanced downsampling — the label-balance step before
    // classifier training: cap every label at the minority-class
    // count, keeping each label's md5-rank-first rows (deterministic,
    // engine-portable, and STABLE under corpus growth for the
    // surviving prefix). The per-label rank window orders by the
    // 60-bit md5 hash; the cap comes from one broadcast min-count
    // row. Output is the per-label audit (kept counts + a checksum
    // of the kept ids proving the exact selection).
    "q_sample_balanced" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = Portable.h60(col("vec_id"))
      val e = emb(s, dir).select(col("vec_id"), col("label"),
        h.as("h"))
      val nMin = e.groupBy(col("label")).count()
        .agg(min(col("count")).as("n_min"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("h"), col("vec_id"))
      e.withColumn("rn", row_number().over(w))
        .crossJoin(broadcast(nMin))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_before"),
          first(col("n_min")).as("n_after"),
          sum(when(col("rn") <= col("n_min"), col("vec_id")))
            .as("kept_id_sum"))
        .orderBy(col("label"))
    },

    // Embedding centroid shift — distribution drift in embedding
    // space: split the corpus into two halves (even/odd vec_id),
    // compute each label's per-dimension centroid in both halves,
    // and report the L2 distance between them. Everything after the
    // (label, half, dim) explode is DECIMAL-exact: component sums at
    // (28,12), means quantized at (18,12), squared diffs summed at
    // (38,12) — the vector analogue of the PSI drift audit, and the
    // monitor you run on an embedding pipeline after a model bump.
    "q_embed_centroid_shift" -> { (s, dir) =>
      val comps = emb(s, dir)
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("half"), col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(28,12)"))
            .cast("decimal(28,12)").as("sx"))
        .select(col("label"), col("half"), col("dim"), col("n"),
          (col("sx").cast("double") / col("n"))
            .cast("decimal(18,12)").as("m"))
      val a = comps.where(col("half") === 0)
        .select(col("label"), col("dim"), col("m").as("ma"),
          col("n").as("na"))
      val b = comps.where(col("half") === 1)
        .select(col("label"), col("dim"), col("m").as("mb"),
          col("n").as("nb"))
      a.join(b, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(first(col("na")).as("n_even"),
          first(col("nb")).as("n_odd"),
          sqrt(sum(((col("ma").cast("double") -
              col("mb").cast("double")) *
            (col("ma").cast("double") - col("mb").cast("double")))
            .cast("decimal(38,12)")).cast("decimal(38,12)")
            .cast("double")).as("shift"))
        .select(col("label"), col("n_even"), col("n_odd"),
          round(col("shift"), 6).as("l2_shift"))
        .orderBy(col("label"))
    },
  )

  /** Replays Similarity.annPq: per subspace s (8 dims each), the
    * deterministic-Lloyd codebook chain (md5 seeds → assign → exact
    * quantized-mean update ×2 → final assign = code), then the
    * query-side DECIMAL lookup table and the exact ADC sum. Built
    * programmatically — 8 structurally identical CTE chains.
    */
  private val pqOracle: String = {
    def chain(s: Int): String = {
      val st = s * 8 + 1
      def assignCte(name: String, cents: String) =
        s"""${name}_$s AS (
             SELECT id, cid, dist, vec,
               row_number() OVER (PARTITION BY id
                 ORDER BY dist, cid) AS rn
             FROM (
               SELECT v.id, ct.cid, v.vec,
                 list_sum([(v.vec[i] - ct.c[i]) * (v.vec[i] - ct.c[i])
                           for i in range(1, 9)]) AS dist
               FROM v_$s v CROSS JOIN ${cents}_$s ct))"""
      def updateCtes(u: String, c: String, a: String) =
        s"""${u}_$s AS (
             SELECT cid, p,
               CAST(sum(q) AS DOUBLE) /
                 (1000000.0 * CAST(count(*) AS DOUBLE)) AS m
             FROM (
               SELECT cid, t.i AS p,
                 CAST(floor(vec[t.i] * 1000000.0 + 0.5) AS BIGINT) AS q
               FROM ${a}_$s, range(1, 9) AS t(i)
               WHERE rn = 1)
             GROUP BY cid, p),
           ${c}_$s AS (
             SELECT cid, list(m ORDER BY p) AS c
             FROM ${u}_$s GROUP BY cid)"""
      s"""v_$s AS (
           SELECT vec_id AS id,
             [embedding[i]::DOUBLE for i in range($st, ${st + 8})] AS vec
           FROM embeddings),
         s0_$s AS (
           SELECT CAST(row_number() OVER
               (ORDER BY md5(CAST(id AS VARCHAR)), id) AS INTEGER) AS cid,
             vec AS c
           FROM v_$s
           QUALIFY row_number() OVER
             (ORDER BY md5(CAST(id AS VARCHAR)), id) <= 16),
         ${assignCte("a1", "s0")},
         ${updateCtes("u1", "c1", "a1")},
         ${assignCte("a2", "c1")},
         ${updateCtes("u2", "c2", "a2")},
         ${assignCte("a3", "c2")},
         codes_$s AS (
           SELECT id, $s AS sub_idx, cid AS code
           FROM a3_$s WHERE rn = 1),
         lut_$s AS (
           SELECT q.id AS q_id, $s AS sub_idx, ct.cid,
             CAST(list_sum([(q.vec[i] - ct.c[i]) * (q.vec[i] - ct.c[i])
                            for i in range(1, 9)]) AS DECIMAL(18,6))
               AS dterm
           FROM (SELECT id, vec FROM v_$s WHERE id < 5) q
           CROSS JOIN c2_$s ct)"""
    }
    val chains = (0 until 8).map(chain).mkString(",\n")
    val codesUnion = (0 until 8)
      .map(s => s"SELECT * FROM codes_$s").mkString(" UNION ALL ")
    val lutUnion = (0 until 8)
      .map(s => s"SELECT * FROM lut_$s").mkString(" UNION ALL ")
    s"""WITH $chains,
       codes AS ($codesUnion),
       lut AS ($lutUnion),
       est AS (
         SELECT l.q_id, c.id,
           CAST(sum(l.dterm) AS DECIMAL(18,6)) AS adc
         FROM codes c
         JOIN lut l ON c.sub_idx = l.sub_idx AND c.code = l.cid
         WHERE l.q_id <> c.id
         GROUP BY 1, 2),
       short AS (
         SELECT q_id, id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc, id) AS srank
         FROM est
         QUALIFY srank <= 40),
       rerank AS (
         SELECT s.q_id, s.id,
           list_sum([q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE
                     for i in range(1, len(q.embedding) + 1)]) /
           sqrt(
             list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE
                       for i in range(1, len(q.embedding) + 1)]) *
             list_sum([v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE
                       for i in range(1, len(v.embedding) + 1)])) AS cos
         FROM short s
         JOIN embeddings v ON v.vec_id = s.id
         JOIN embeddings q ON q.vec_id = s.q_id)
       SELECT q_id,
         CAST(row_number() OVER (PARTITION BY q_id
           ORDER BY cos DESC, id) AS INTEGER) AS rank,
         id, round(cos, 4) AS cos_sim
       FROM rerank
       QUALIFY rank <= 5
       ORDER BY q_id, rank"""
  }

  val oracles: Map[String, String] = Map(
    "q_knn_bruteforce" -> knnOracle,
    "q_knn_topk_agg" -> knnOracle,
    "q_ann_pq" -> pqOracle,

    // Replays Similarity.annLsh exactly: the Rademacher plane family
    // is regenerated from md5 parity, bucket bits use the same
    // left-to-right double accumulation and >= 0 rule, candidates
    // share any (table, bucket-within-Hamming-1) — the query-side
    // multi-probe is the XOR-popcount condition — and the re-rank is
    // the same exact cosine as the kNN oracle.
    "q_ann_lsh" ->
      """WITH planes AS (
           SELECT p,
             list(CASE WHEN ('0x' || substring(
                        md5(p::VARCHAR || '_' || i::VARCHAR), 1, 1))::INT
                        % 2 = 1
                       THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END
                  ORDER BY i) AS pl
           FROM range(192) rp(p) CROSS JOIN range(64) ri(i)
           GROUP BY p),
         buck AS (
           SELECT e.vec_id, t.t AS tbl,
             sum(CASE WHEN list_reduce(
                        [pl.pl[i] * e.embedding[i]::DOUBLE
                         for i in range(1, 65)],
                        (a, b) -> a + b) >= 0
                      THEN (1 << j.j) ELSE 0 END)::BIGINT AS bucket
           FROM embeddings e
           CROSS JOIN range(24) t(t) CROSS JOIN range(8) j(j)
           JOIN planes pl ON pl.p = t.t * 8 + j.j
           GROUP BY e.vec_id, t.t),
         cand AS (
           SELECT DISTINCT qb.vec_id AS q_id, vb.vec_id AS id
           FROM buck qb JOIN buck vb
             ON qb.tbl = vb.tbl
                AND bit_count(xor(qb.bucket, vb.bucket)) <= 1
                AND vb.vec_id <> qb.vec_id
           WHERE qb.vec_id < 5),
         scored AS (
           SELECT c.q_id, c.id,
             list_sum([q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE
                       for i in range(1, len(q.embedding) + 1)]) /
             sqrt(
               list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE
                         for i in range(1, len(q.embedding) + 1)]) *
               list_sum([v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE
                         for i in range(1, len(v.embedding) + 1)])) AS cos
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.q_id
           JOIN embeddings v ON v.vec_id = c.id)
         SELECT q_id,
           CAST(row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, id) AS INTEGER) AS rank,
           id, round(cos, 4) AS cos_sim
         FROM scored
         QUALIFY rank <= 5
         ORDER BY q_id, rank""",

    // Replays Similarity.annSq8: per-dim min/max over the corpus,
    // the same floor-grid quantize/dequantize arithmetic (identical
    // parenthesization — IEEE doubles make it bit-equal), the same
    // approx-cosine shortlist-20 and exact re-rank.
    "q_ann_sq8" ->
      """WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
         dims AS (
           SELECT d, min(x) AS mn, max(x) AS mx FROM (
             SELECT unnest(embedding) AS x,
                    generate_subscripts(embedding, 1) AS d FROM v) u
           GROUP BY d),
         b AS (SELECT list(mn ORDER BY d) AS mns,
                      list(mx ORDER BY d) AS mxs FROM dims),
         enc AS (
           SELECT id, embedding,
             [CASE WHEN b.mxs[i] = b.mns[i]
                   THEN (b.mns[i]::DOUBLE)::FLOAT
                   ELSE (b.mns[i]::DOUBLE
                     + least(255, greatest(0,
                         floor(((embedding[i]::DOUBLE - b.mns[i]::DOUBLE)
                                * 255.0)
                           / (b.mxs[i]::DOUBLE - b.mns[i]::DOUBLE))))::DOUBLE
                       * ((b.mxs[i]::DOUBLE - b.mns[i]::DOUBLE) / 255.0)
                   )::FLOAT END
              for i in range(1, len(embedding) + 1)] AS dq
           FROM v, b),
         q AS (SELECT id AS q_id, embedding AS q_embedding, dq AS q_dq
               FROM enc WHERE id < 5),
         short AS (
           SELECT q.q_id, q.q_embedding, e.id, e.embedding,
             list_sum([q.q_dq[i]::DOUBLE * e.dq[i]::DOUBLE
                       for i in range(1, len(q.q_dq) + 1)]) /
             sqrt(
               list_sum([q.q_dq[i]::DOUBLE * q.q_dq[i]::DOUBLE
                         for i in range(1, len(q.q_dq) + 1)]) *
               list_sum([e.dq[i]::DOUBLE * e.dq[i]::DOUBLE
                         for i in range(1, len(e.dq) + 1)])) AS approx
           FROM q JOIN enc e ON e.id <> q.q_id
           QUALIFY row_number() OVER (PARTITION BY q.q_id
             ORDER BY approx DESC, e.id) <= 20),
         scored AS (
           SELECT q_id, id,
             list_sum([q_embedding[i]::DOUBLE * embedding[i]::DOUBLE
                       for i in range(1, len(q_embedding) + 1)]) /
             sqrt(
               list_sum([q_embedding[i]::DOUBLE * q_embedding[i]::DOUBLE
                         for i in range(1, len(q_embedding) + 1)]) *
               list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                         for i in range(1, len(embedding) + 1)])) AS cos
           FROM short)
         SELECT q_id,
           CAST(row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, id) AS INTEGER) AS rank,
           id, round(cos, 4) AS cos_sim
         FROM scored
         QUALIFY rank <= 5
         ORDER BY q_id, rank""",

    // Replays Similarity.annIvf: same md5-ordered centroid sample,
    // same exact-cosine assignment/probe ranking (ties by centroid
    // rank), assign-3 / probe-14, candidate pairs deduplicated
    // before the same exact re-rank.
    "q_ann_ivf" ->
      """WITH cents AS (
           SELECT vec_id, embedding,
             row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
               AS cr
           FROM embeddings
           ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 32),
         acell AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (
                 PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
             FROM (
               SELECT e.vec_id, c.cr AS cell,
                 list_sum([e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                           for i in range(1, len(e.embedding) + 1)]) /
                 sqrt(
                   list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
                             for i in range(1, len(e.embedding) + 1)]) *
                   list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                             for i in range(1, len(c.embedding) + 1)])) AS cos
               FROM embeddings e CROSS JOIN cents c) s
             -- a zero norm gives 0/0 = NULL: no cell, as in annIvf
             WHERE cos IS NOT NULL) t
           WHERE rn <= 3),
         probe AS (
           SELECT q_id, cell FROM (
             SELECT q_id, cell, row_number() OVER (
                 PARTITION BY q_id ORDER BY cos DESC, cell) AS rn
             FROM (
               SELECT q.vec_id AS q_id, c.cr AS cell,
                 list_sum([q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                           for i in range(1, len(q.embedding) + 1)]) /
                 sqrt(
                   list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE
                             for i in range(1, len(q.embedding) + 1)]) *
                   list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                             for i in range(1, len(c.embedding) + 1)])) AS cos
               FROM embeddings q CROSS JOIN cents c
               WHERE q.vec_id < 5) s
             WHERE cos IS NOT NULL) t
           WHERE rn <= 14),
         cand AS (
           SELECT DISTINCT p.q_id, a.vec_id AS id
           FROM probe p
           JOIN acell a ON a.cell = p.cell AND a.vec_id <> p.q_id),
         scored AS (
           SELECT c.q_id, c.id,
             list_sum([q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE
                       for i in range(1, len(q.embedding) + 1)]) /
             sqrt(
               list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE
                         for i in range(1, len(q.embedding) + 1)]) *
               list_sum([v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE
                         for i in range(1, len(v.embedding) + 1)])) AS cos
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.q_id
           JOIN embeddings v ON v.vec_id = c.id)
         SELECT q_id,
           CAST(row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, id) AS INTEGER) AS rank,
           id, round(cos, 4) AS cos_sim
         FROM scored
         QUALIFY rank <= 5
         ORDER BY q_id, rank""",

    "q_vector_stats" ->
      """SELECT vec_id,
         CAST(len(embedding) AS INTEGER) AS dim,
         sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                        for i in range(1, len(embedding) + 1)])) AS l2_norm,
         list_aggregate(embedding, 'max') AS max_c,
         list_aggregate(embedding, 'min') AS min_c,
         CAST(list_position(embedding, list_aggregate(embedding, 'max'))
           AS BIGINT) AS argmax
         FROM embeddings ORDER BY vec_id""",

    // replays the three power iterations exactly: same sequential
    // dot fold, same DECIMAL(28,12) quantization of every cross-row
    // sum, same ‖w‖ and normalization arithmetic
    "q_embed_power_iteration" ->
      """WITH e AS (SELECT vec_id, embedding AS x FROM embeddings),
         dim AS (SELECT min(len(x)) AS dim FROM e),
         v0 AS (
           SELECT CAST(unnest(generate_series(1, dim)) AS BIGINT)
             AS pos, 1.0 / sqrt(dim) AS v
           FROM dim),
         va0 AS (SELECT list(v ORDER BY pos) AS varr FROM v0),
         s1 AS (
           SELECT x, list_sum([x[i]::DOUBLE * varr[i]
             for i in range(1, len(x) + 1)]) AS s
           FROM e, va0),
         p1 AS (
           SELECT unnest(generate_series(1, len(x))) AS i, x, s
           FROM s1),
         w1 AS (
           SELECT CAST(i AS BIGINT) AS pos,
             CAST(sum(CAST(x[i]::DOUBLE * s AS DECIMAL(28,12)))
               AS DECIMAL(28,12)) AS wd
           FROM p1 GROUP BY 1),
         n1 AS (
           SELECT sqrt(CAST(sum(CAST(wd::DOUBLE * wd::DOUBLE
             AS DECIMAL(28,12))) AS DECIMAL(28,12))::DOUBLE) AS nrm
           FROM w1),
         v1 AS (
           SELECT pos, wd::DOUBLE / nrm AS v FROM w1, n1),
         va1 AS (SELECT list(v ORDER BY pos) AS varr FROM v1),
         s2 AS (
           SELECT x, list_sum([x[i]::DOUBLE * varr[i]
             for i in range(1, len(x) + 1)]) AS s
           FROM e, va1),
         p2 AS (
           SELECT unnest(generate_series(1, len(x))) AS i, x, s
           FROM s2),
         w2 AS (
           SELECT CAST(i AS BIGINT) AS pos,
             CAST(sum(CAST(x[i]::DOUBLE * s AS DECIMAL(28,12)))
               AS DECIMAL(28,12)) AS wd
           FROM p2 GROUP BY 1),
         n2 AS (
           SELECT sqrt(CAST(sum(CAST(wd::DOUBLE * wd::DOUBLE
             AS DECIMAL(28,12))) AS DECIMAL(28,12))::DOUBLE) AS nrm
           FROM w2),
         v2 AS (
           SELECT pos, wd::DOUBLE / nrm AS v FROM w2, n2),
         va2 AS (SELECT list(v ORDER BY pos) AS varr FROM v2),
         s3 AS (
           SELECT x, list_sum([x[i]::DOUBLE * varr[i]
             for i in range(1, len(x) + 1)]) AS s
           FROM e, va2),
         p3 AS (
           SELECT unnest(generate_series(1, len(x))) AS i, x, s
           FROM s3),
         w3 AS (
           SELECT CAST(i AS BIGINT) AS pos,
             CAST(sum(CAST(x[i]::DOUBLE * s AS DECIMAL(28,12)))
               AS DECIMAL(28,12)) AS wd
           FROM p3 GROUP BY 1),
         n3 AS (
           SELECT sqrt(CAST(sum(CAST(wd::DOUBLE * wd::DOUBLE
             AS DECIMAL(28,12))) AS DECIMAL(28,12))::DOUBLE) AS nrm
           FROM w3),
         v3 AS (
           SELECT pos, wd::DOUBLE / nrm AS v, nrm FROM w3, n3)
         SELECT pos AS component, round(v, 6) AS loading,
           round(nrm, 4) AS lambda
         FROM v3 ORDER BY component""",

    "q_sample_balanced" ->
      """WITH e AS (
           SELECT vec_id, label,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
           FROM embeddings),
         nmin AS (
           SELECT min(c) AS n_min FROM (
             SELECT count(*) AS c FROM e GROUP BY label)),
         rk AS (
           SELECT label, vec_id, h,
             row_number() OVER (PARTITION BY label
               ORDER BY h, vec_id) AS rn
           FROM e)
         SELECT label,
           count(*) AS n_before,
           CAST(any_value(m.n_min) AS BIGINT) AS n_after,
           CAST(sum(CASE WHEN rn <= m.n_min THEN vec_id END)
             AS BIGINT) AS kept_id_sum
         FROM rk, nmin m GROUP BY label ORDER BY label""",

    "q_embed_centroid_shift" ->
      """WITH comps AS (
           SELECT label, vec_id % 2 AS half,
             unnest(range(len(embedding))) AS dim,
             unnest(embedding) AS x
           FROM embeddings),
         g AS (
           SELECT label, half, dim, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(28,12))) AS DECIMAL(28,12))
               AS sx
           FROM comps GROUP BY 1, 2, 3),
         m AS (
           SELECT label, half, dim, n,
             CAST(sx::DOUBLE / n AS DECIMAL(18,12)) AS m
           FROM g),
         j AS (
           SELECT a.label, a.dim, a.m AS ma, b.m AS mb,
             a.n AS na, b.n AS nb
           FROM m a JOIN m b
             ON a.label = b.label AND a.dim = b.dim
            AND a.half = 0 AND b.half = 1)
         SELECT label,
           CAST(any_value(na) AS BIGINT) AS n_even,
           CAST(any_value(nb) AS BIGINT) AS n_odd,
           round(sqrt(CAST(sum(CAST(
               (ma::DOUBLE - mb::DOUBLE) * (ma::DOUBLE - mb::DOUBLE)
               AS DECIMAL(38,12))) AS DECIMAL(38,12))::DOUBLE), 6)
             AS l2_shift
         FROM j GROUP BY label ORDER BY label""",
  )
}
