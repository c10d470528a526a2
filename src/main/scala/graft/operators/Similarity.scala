package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import graft.functions.VectorFunctions

/** Approximate/exact nearest-neighbor search over embedding columns
  * (`array<float>`) — BASELINE.json north star.
  *
  * Scale design:
  *  - [[topKBruteForce]]: the correctness baseline. Queries are
  *    broadcast (they're the small side by construction), so scoring
  *    is map-side over the candidate corpus; Spark's WindowGroupLimit
  *    then prunes the rank filter map-side, so only ≤ k rows per
  *    query per map partition cross the shuffle (measured in
  *    ShuffleBudgetSpec — NOT the |corpus|×|queries| scored stream).
  *  - [[topKAggregated]]: the same exact result with the bound
  *    enforced by the operator itself: a bounded top-k
  *    [[TopKAggregator]] caps the buffer at k entries, independent of
  *    plan shape or optimizer version — the belt-and-braces form for
  *    embedding in larger plans where the window rewrite may not
  *    apply.
  *  - [[annLsh]]: sub-linear candidate generation via L independent
  *    sign-random-projection tables (Charikar SimHash-LSH). Collision
  *    probability per hyperplane is 1−θ/π, so recall is tunable with
  *    (bitsPerTable, tables); candidates are verified with the exact
  *    cosine and re-ranked, so precision is exact.
  */
object Similarity {

  /** Dimensionality of the first NON-DEGENERATE vector (non-null,
    * non-empty — a leading empty array must not silently set dim=1
    * for a 64-dim corpus and collapse every bucket to component 0's
    * sign), or None for a corpus with no usable vectors. Callers
    * fall back to a harmless positive stand-in on None: with nothing
    * to bucket, the downstream joins produce the correct empty
    * result — the point is that probing an empty corpus must not
    * throw.
    */
  private def measuredDim(df: DataFrame, vecCol: String): Option[Int] =
    df.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(size(col(vecCol))).take(1).headOption.map(_.getInt(0))

  /** Score every (query, candidate) pair: broadcast nested-loop join
    * + codegen'd double-precision cosine. Excludes self-pairs.
    */
  def scoreAll(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(queries.select(col(idCol).as("q_id"),
        col(vecCol).as("q_vec"))))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        VectorFunctions.cosine(col("q_vec"), col("vec")).as("cos"))

  /** Exact top-k per query via window row_number (ties → smaller id). */
  def topKBruteForce(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("id"))
    scoreAll(vecs, queries, idCol, vecCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact top-k per query via the bounded [[TopKAggregator]] —
    * identical output to [[topKBruteForce]], shuffle-light.
    */
  def topKAggregated(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val scored = scoreAll(vecs, queries, idCol, vecCol)
      .select(col("q_id"), col("id"), col("cos").as("score"))
      .as[ScoredNeighbor]
    scored.groupByKey(_.q_id)
      .agg(new TopKAggregator(k).toColumn.name("topk"))
      .toDF("q_id", "topk")
      .select(col("q_id"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("hit._2").as("id"), col("hit._1").as("cos"))
  }

  /** Engine-portable Rademacher (±1) hyperplanes: component (p, i) is
    * +1 when the first md5 hex digit of "p_i" is odd, −1 otherwise —
    * i.e. `('0x' || substring(md5(p || '_' || i), 1, 1))::INT % 2` in
    * ANSI SQL, so the DuckDB oracle regenerates the identical planes.
    * Sign-random-projection LSH only needs the projection directions
    * to be symmetric and independent; ±1 components (Achlioptas-style
    * sparse projections) preserve the Charikar collision-probability
    * guarantee while making every product ±v[i], exactly
    * representable, so bucket bits are reproducible across engines
    * up to the (identical) left-to-right double accumulation.
    */
  def rademacherPlanes(dim: Int, nPlanes: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { i =>
        val d = graft.plans.BloomHash.digest(s"${p}_${i}".getBytes("UTF-8"))
        if (((d(0) >> 4) & 1) == 1) 1.0 else -1.0
      }
    }

  /** Bucket ids, one per table: the sign bits of `bitsPerTable`
    * hyperplane projections packed into an int. Native single-pass
    * expression — the HOF formulation (zip_with+aggregate per plane)
    * is interpreted and evaluated 32× per row; see
    * [[graft.plans.LshBucketsExpr]].
    */
  def bucketIds(vec: Column, planes: Array[Array[Double]],
      tables: Int, bitsPerTable: Int): Column =
    graft.plans.LshBucketsExpr.lsh_buckets(vec, planes, tables, bitsPerTable)

  /** ANN top-k: candidates = ids colliding with the query in ≥1 of
    * `tables` LSH tables; exact cosine re-rank on candidates.
    * Planes are the portable Rademacher family, so the whole operator
    * (bucketing → candidates → re-rank) has an exact DuckDB oracle.
    *
    * `multiProbe = 1` (Lv et al., VLDB'07) additionally probes, per
    * table, every bucket at Hamming distance 1 from the query's
    * bucket — the single-bit-flip neighbors are exactly the buckets a
    * near-neighbor most likely fell into. Probing is QUERY-side only:
    * the corpus still emits `tables` bucket keys per vector, so index
    * shuffle volume is unchanged; each query fans out to
    * tables·(1+bitsPerTable) equi-join keys (still an equi-join —
    * never a θ-join over buckets). Defaults (24×8, probe-1) are tuned
    * on the harness corpus — isotropic random vectors, the
    * LSH-adversarial case where true neighbors sit at 66-75° — to
    * recall@5 ≥ 0.9 while scoring ~0.6 of the corpus; on clustered
    * real-world embeddings the same shape prunes far harder
    * (SimilaritySpec gates recall and the candidate fraction).
    */
  def annLsh(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      tables: Int = 24, bitsPerTable: Int = 8,
      multiProbe: Int = 1): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= 1,
      "only Hamming radius 0 or 1 probing is implemented")
    // null and empty corpus vectors are excluded outright: they have
    // no buckets to collide in (and no cosine — a degenerate
    // vector's score is null, which ranks last)
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .where(col("vec").isNotNull && size(col("vec")) > 0)
    // measure the dimensionality (the annPq idiom) — a hardcoded
    // dim would silently bucket wider embeddings on a prefix of
    // their components and collapse recall with no error
    val dim = measuredDim(v, "vec").getOrElse(1)
    val planes = rademacherPlanes(dim, tables * bitsPerTable)
    def withBuckets(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id), posexplode(
        bucketIds(col(vec), planes, tables, bitsPerTable))
        .as(Seq("table", "bucket")))
    val vb = withBuckets(v, "id", "vec")
    val qb0 = withBuckets(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")),
      "q_id", "q_vec")
    val qb = if (multiProbe == 0) qb0
    else qb0.select(col("q_id"), col("table"),
      explode(expr(s"concat(array(bucket), transform(" +
        s"sequence(0, ${bitsPerTable - 1}), j -> bucket ^ shiftleft(1, j)))"))
        .as("bucket"))
    val candidateIds = vb.join(qb,
        vb("table") === qb("table") && vb("bucket") === qb("bucket") &&
          col("id") =!= col("q_id"))
      .select(col("q_id"), col("id")).distinct()
    val scored = candidateIds
      .join(v, "id")
      .join(broadcast(queries.select(col(idCol).as("q_id"),
        col(vecCol).as("q_vec"))), "q_id")
      .select(col("q_id"), col("id"),
        VectorFunctions.cosine(col("q_vec"), col("vec")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
  /** IVF-Flat ANN top-k: a deterministic sample of `nCells` vectors
    * (md5 order on the id — engine-portable, the usual k-means-init
    * sample without Lloyd iterations, which would break cross-engine
    * reproducibility) acts as the coarse quantizer. Every vector is
    * assigned map-side to its `nAssign` nearest centroids by exact
    * cosine ([[graft.plans.NearestCellsExpr]]); a query probes its
    * `nProbe` nearest cells, candidate (query, id) pairs are
    * deduplicated (multi-assignment can surface a pair through
    * several cells), and survivors are exact-cosine re-ranked.
    *
    * `nAssign > 1` is the standard IVF replication trick: a vector
    * near a cell boundary is indexed under each of its closest cells,
    * which repairs the recall loss of hard single-cell assignment at
    * the cost of an `nAssign`× larger inverted index.
    *
    * Scale: nCells ~ √N keeps both the quantizer (collected once —
    * O(√N) rows on the driver, same envelope as any broadcast dim)
    * and the per-query candidate list (~nAssign·nProbe·N/nCells)
    * sub-linear. The probe list is broadcast (it is Q·nProbe rows),
    * so the inverted index never shuffles: scoring happens map-side
    * in the probe join, and the only shuffle is the post-scoring
    * pair dedup — whose duplicates are co-located by construction
    * (all nAssign copies of an index row live in its partition), so
    * map-side partial aggregation collapses them before the wire.
    * With nAssign = 1 duplicates are impossible (one cell per
    * vector, distinct probe cells) and the dedup is skipped. Above
    * `bcastThresholdDoubles` the centroid matrix is shipped as a
    * broadcast variable consumed by a non-literal expression
    * ([[graft.plans.NearestCellsExpr.nearest_cells_bcast]]) instead
    * of a plan-time literal — a √N-row literal is fine at harness
    * scale but would blow plan/codegen size limits near the 100 TB
    * corner (√N ≈ 3·10⁵ centroids).
    *
    * Defaults (32 cells, assign-3, probe-14) are tuned to recall@5 ≥
    * 0.9 on the harness corpus — isotropic random vectors, the
    * worst case for any partition-based index since true neighbors
    * are barely more co-located than random points. On clustered
    * real-world embeddings the same operator runs at small
    * nProbe/nCells ratios; SimilaritySpec gates recall and candidate
    * counts.
    */
  def annIvf(vecs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 32, nProbe: Int = 14, nAssign: Int = 3,
      bcastThresholdDoubles: Long = 64 * 1024): DataFrame = {
    val cents: Array[Array[Double]] = vecs
      .select(col(idCol).cast("long").as("c_id"), col(vecCol).as("c_vec"))
      .orderBy(md5(col("c_id").cast("string")), col("c_id"))
      .limit(nCells)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val centDoubles = cents.length.toLong *
      cents.headOption.map(_.length).getOrElse(0).toLong
    val cellsFn: Column => Column =
      if (centDoubles > bcastThresholdDoubles) {
        val b = vecs.sparkSession.sparkContext.broadcast(cents)
        vec => graft.plans.NearestCellsExpr.nearest_cells_bcast(vec, b)
      } else {
        vec => graft.plans.NearestCellsExpr.nearest_cells(vec, cents)
      }
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val assigned = v
      .select(col("id"), col("vec"),
        explode(slice(cellsFn(col("vec")), 1, nAssign)).as("cell"))
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .select(col("q_id"), col("q_vec"),
        explode(slice(cellsFn(col("q_vec")), 1, nProbe)).as("cell"))
    val instances = assigned.join(broadcast(probes), "cell")
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"),
        VectorFunctions.cosine(col("q_vec"), col("vec")).as("cos"))
    // multi-assignment can surface a (q, id) pair through up to
    // nAssign cells; the duplicate scores are bit-identical, so a
    // max-agg dedup (map-side combinable) collapses them
    val scored =
      if (nAssign == 1) instances
      else instances.groupBy(col("q_id"), col("id"))
        .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Scalar-quantized (SQ8) ANN — the memory-compression scale path:
    * each float32 dimension quantizes to an 8-bit code against
    * per-dimension corpus [min, max] bounds, so the searchable
    * representation is 4× smaller than the raw vectors (at 100 TB
    * the codes are what stays hot; the floats live cold and are
    * fetched only for the re-rank). The cheap pass scores
    * DEQUANTIZED codes (bounds are one broadcast row of 2×dim
    * floats; reconstruction is map-side arithmetic), keeps
    * `shortlist` candidates per query (WindowGroupLimit-pruned), and
    * re-ranks only those with the exact float cosine — precision on
    * returned pairs is exact; quantization error can only cost
    * recall (SimilaritySpec gates it ≥ 0.9). The quantizer is
    * deterministic floor-grid arithmetic over IEEE doubles —
    * `floor(((x − mn) · 255) / (mx − mn))`, clamped to [0, 255],
    * dequantized as `mn + code · (mx − mn)/255` — so the whole
    * operator replays bit-for-bit in the DuckDB oracle (keep the
    * parenthesization when porting).
    */
  def annSq8(vecs: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int = 20): DataFrame = {
    // a shortlist narrower than k would silently return < k rows
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k)")
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val bounds = v
      .select(posexplode(col("vec")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(sort_array(collect_list(struct(col("d"), col("mn"),
        col("mx")))).as("b"))
    def dequant(vc: Column): Column =
      zip_with(vc, col("b"), (x, bb) => {
        val mn = bb.getField("mn").cast("double")
        val mx = bb.getField("mx").cast("double")
        val code = least(lit(255L), greatest(lit(0L),
          floor(((x.cast("double") - mn) * lit(255.0)) / (mx - mn))))
        when(mx === mn, mn)
          .otherwise(mn + code.cast("double") * ((mx - mn) / lit(255.0)))
          .cast("float")
      })
    val enc = v.crossJoin(broadcast(bounds))
      .select(col("id"), col("vec"), dequant(col("vec")).as("dq"))
    val qe = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(bounds))
      .select(col("q_id"), col("q_vec"), dequant(col("q_vec")).as("q_dq"))
    val w = Window.partitionBy(col("q_id"))
    enc.crossJoin(broadcast(qe))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("q_vec"), col("id"), col("vec"),
        VectorFunctions.cosine(col("q_dq"), col("dq")).as("approx"))
      .withColumn("srank", row_number().over(
        w.orderBy(col("approx").desc, col("id"))))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("id"),
        VectorFunctions.cosine(col("q_vec"), col("vec")).as("cos"))
      .withColumn("rank", row_number().over(
        w.orderBy(col("cos").desc, col("id"))))
      .filter(col("rank") <= k)
  }

  /** Product-quantization ANN with asymmetric distance computation
    * (PQ-ADC, Jégou et al. TPAMI'11) — the memory-tier workhorse of
    * billion-vector search: the vector splits into `m` subvectors,
    * each encoded as its nearest centroid in a per-subspace
    * `codebookK`-entry codebook (deterministic Lloyd — the
    * [[Clustering]] machinery, md5 seeds, exact-integer centroid
    * means), so a 64-float vector compresses to `m` small codes.
    * Queries stay UN-quantized: per query, a lookup table of
    * query-subvector→codeword distances (m·codebookK DECIMAL terms,
    * broadcast) turns each candidate's distance estimate into `m`
    * table lookups + an exact DECIMAL sum — no float vector is
    * touched at scan time.
    *
    * Scale: encoding is map-side (broadcast codebook + partial
    * min_by); the ADC scan joins codes to the broadcast LUT and
    * aggregates (q, id) partials; the rank filter is
    * WindowGroupLimit-pruned. Codebook build materializes
    * m·codebookK·(dim/m) doubles to the driver — the same
    * micro-envelope as [[annIvf]]'s centroid sample. Every step is
    * deterministic (md5 seeds, quantized means, DECIMAL ADC sums),
    * so the DuckDB oracle replays codebooks, codes, and rankings
    * exactly.
    */
  def annPq(vecs: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8,
      codebookK: Int = 16): DataFrame = {
    val spark = vecs.sparkSession
    // m is a valid stand-in on an empty corpus (dim % m == 0 holds
    // and every downstream stage is empty-safe)
    val dim = measuredDim(vecs, vecCol).getOrElse(m)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subLen = dim / m
    def subVecs(df: DataFrame, idAs: String): DataFrame =
      df.select(col(idCol).as(idAs),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("sub_idx"),
            slice(col(vecCol), s * subLen + 1, subLen).as("sub"))): _*))
          .as("e"))
        .select(col(idAs), col("e.sub_idx").as("sub_idx"),
          col("e.sub").as("sub"))
    // all m codebooks train as ONE fused Lloyd pipeline — sub_idx is
    // just part of the grouping key — so a round costs one assign +
    // one update regardless of m (the per-subspace formulation paid
    // 2·m driver jobs: measured 9 s → ~3 s warm at sf0.1). The
    // corpus-side (id, sub_idx, sub) explode is cached eagerly: it
    // feeds both training assigns and the final encode.
    // fanOut (r13): the exploded-subvector cache otherwise inherits
    // the single-row-group scan's one partition, making every
    // training assign / encode pass single-task; hash-partitioning
    // by id parallelizes them and pre-clusters the per-(id, sub_idx)
    // min_by aggregates. No-op at scale.
    val subs = graft.CachedPlans.cache(
      graft.Tables.fanOut(subVecs(vecs, "id"), col("id")))
    subs.count()
    // every subspace sees the same ids in the same md5 order, so the
    // m seed sets are the SAME k ids — selected once, sliced per
    // subspace by the join against the exploded subvectors
    val seedOrd = Seq(md5(col("id").cast("string")), col("id"))
    val seedIds = vecs.select(col(idCol).as("id"))
      .orderBy(seedOrd: _*).limit(codebookK)
      .select(col("id"),
        row_number().over(Window.orderBy(seedOrd: _*)).as("cid"))
    // r14: centroids live ON the driver between rounds (they were
    // already collected per round as the m·k micro-envelope) and the
    // nearest-centroid argmin folds a per-subspace LITERAL — a map
    // sub_idx → [(cid, c)] — instead of broadcast-joining a
    // re-parallelized centroid table and min_by-reducing the k-fold
    // row blow-up. Strict < over cid-ascending centroids keeps the
    // first minimum: the same (dist, cid) tie-break, the same l2Sq
    // doubles, so codes and the oracle are unchanged.
    var cents: Seq[(Int, Int, Seq[Double])] =
      subs.join(broadcast(seedIds), "id")
        .select(col("sub_idx"), col("cid"),
          transform(col("sub"), x => x.cast("double")).as("c"))
        .collect().toSeq.map(r =>
          (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    def bestCode(): Column = {
      // empty corpus → no seeds → the fold never sees a row; a typed
      // constant keeps analysis happy where map() would be VOID
      if (cents.isEmpty) return lit(-1)
      val bySub = cents.groupBy(_._1).toSeq.sortBy(_._1)
      val mapLit = map(bySub.flatMap { case (si, cs) =>
        Seq(lit(si), array(cs.sortBy(_._2).map { case (_, cid, c) =>
          struct(lit(cid).as("cid"), typedLit(c).as("c"))
        }: _*))
      }: _*)
      VectorFunctions.nearestCentroid(col("sub"),
        element_at(mapLit, col("sub_idx"))).getField("cid")
    }
    for (_ <- 1 to 2) {
      val assigned = subs
        .select(col("sub_idx"), bestCode().as("cid"), col("sub"))
      // exact-integer quantized means (the Clustering.update idiom —
      // order-free, bit-identical to the oracle's per-subspace sums).
      // r13: subLen is a plan-time constant here, so the means fold
      // as subLen FIXED-WIDTH sum columns in ONE groupBy — the old
      // posexplode + (sub_idx, cid, p) pre-aggregate + collect_list
      // re-assembly paid a second shuffle per round for the same
      // integer sums (n = the group's row count, identical for every
      // position since every subvector carries all subLen slots).
      val sums = (0 until subLen).map(i =>
        sum(floor(element_at(col("sub"), i + 1) * lit(1e6) + lit(0.5)))
          .as(s"s_$i"))
      val next = assigned
        .groupBy(col("sub_idx"), col("cid"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("sub_idx"), col("cid"),
          array((0 until subLen).map(i =>
            col(s"s_$i").cast("double") /
              (lit(1e6) * col("n").cast("double"))): _*).as("c"))
      // materialize m·k centroid rows (micro-envelope) to cut the
      // iterative lineage, as Clustering.centroidTable does — the
      // in-plan division is unchanged, only the landing shape is a
      // driver Seq instead of a one-row-partition DataFrame
      cents = next.collect().toSeq.map(r =>
        (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    }
    // the LUT join below still needs the codebook as a table
    val codebook = spark.createDataFrame(
      spark.sparkContext.parallelize(cents.map { case (si, cid, c) =>
        org.apache.spark.sql.Row(si, cid, c) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sub_idx",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = true))))
    // final encode: the same map-only fold (r14) — no broadcast
    // join, no per-(id, sub_idx) min_by re-aggregation
    val codes = subs
      .select(col("id"), col("sub_idx"), bestCode().as("code"))
    val lut = subVecs(queries, "q_id")
      .join(broadcast(codebook), "sub_idx")
      .select(col("q_id"), col("sub_idx").as("l_sub"),
        col("cid").as("l_cid"),
        VectorFunctions.l2Sq(col("sub"), col("c"))
          .cast("decimal(18,6)").as("dterm"))
    // ADC ranks a SHORTLIST only; the final top-k comes from an
    // exact re-rank of the shortlist's full vectors — the standard
    // IVFPQ+re-rank pipeline and this repo's SQ8 discipline. (On
    // distance-concentrated data raw ADC order is noise; the
    // shortlist/re-rank split is what restores recall while the
    // scan still touches only codes.)
    val shortlist = math.max(8 * k, 40)
    val w = Window.partitionBy(col("q_id"))
    val short = codes.join(broadcast(lut),
        col("sub_idx") === col("l_sub") && col("code") === col("l_cid"))
      .filter(col("q_id") =!= col("id"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("dterm")).cast("decimal(18,6)").as("adc"))
      .withColumn("srank", row_number().over(
        w.orderBy(col("adc"), col("id"))))
      .filter(col("srank") <= shortlist)
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).as("q_vec"))
    short.join(v, "id").join(broadcast(q), "q_id")
      .select(col("q_id"), col("id"),
        VectorFunctions.cosine(col("q_vec"), col("vec")).as("cos"))
      .withColumn("rank", row_number().over(
        w.orderBy(col("cos").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"), col("cos"))
  }
}

/** One scored (query, candidate) pair; `score` is None where the
  * cosine is null (a degenerate vector). */
case class ScoredNeighbor(q_id: Long, id: Long, score: Option[Double])

/** Bounded top-k accumulator: the buffer never exceeds k entries, so
  * map-side partial aggregation caps the shuffle at k rows per key
  * per partition. Ordering: score desc, id asc (deterministic ties).
  *
  * The buffer is kept SORTED (best-first) as an invariant, so the hot
  * path is O(1): once the buffer is full, a row worse than the
  * current k-th is rejected with a single comparison and zero
  * allocation — the overwhelmingly common case when scoring a large
  * candidate stream. Insertions binary-search the slot (O(log k)
  * comparisons) and copy once; `merge` is a linear merge of two
  * sorted runs. This replaces the earlier re-sort-per-row
  * formulation (O(k log k) comparisons + a fresh Seq per input row).
  */
class TopKAggregator(k: Int)
    extends Aggregator[ScoredNeighbor, Seq[(Option[Double], Long)],
      Seq[(Option[Double], Long)]] {

  private type Hit = (Option[Double], Long)

  // the row_number window's `cos desc, id` order, which this
  // aggregator must replicate: NaN ranks first (java Double.compare
  // is a total order with NaN greatest), a null score after every
  // number, ties by id ASC
  private val ord: Ordering[Hit] =
    new Ordering[Hit] {
      def compare(a: Hit, b: Hit): Int = {
        val c = (a._1, b._1) match {
          case (Some(x), Some(y)) => java.lang.Double.compare(y, x)
          case (Some(_), None) => -1
          case (None, Some(_)) => 1
          case _ => 0
        }
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }

  override def zero: Seq[Hit] = Seq.empty

  override def reduce(buf: Seq[Hit], row: ScoredNeighbor): Seq[Hit] = {
    val e = (row.score, row.id)
    val n = buf.size
    if (n >= k && ord.lteq(buf(n - 1), e)) buf // worse than current k-th
    else {
      // binary-search the insertion slot in the sorted buffer
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.lt(buf(mid), e)) lo = mid + 1 else hi = mid
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Hit]
      out.sizeHint(math.min(n + 1, k))
      out ++= buf.view.slice(0, lo)
      out += e
      out ++= buf.view.slice(lo, math.min(n, k - 1))
      out.toSeq
    }
  }

  override def merge(a: Seq[Hit], b: Seq[Hit]): Seq[Hit] = {
    // linear merge of two sorted runs, truncated at k
    val out = scala.collection.mutable.ArrayBuffer.empty[Hit]
    out.sizeHint(math.min(a.size + b.size, k))
    var i = 0
    var j = 0
    while (out.size < k && (i < a.size || j < b.size)) {
      if (j >= b.size || (i < a.size && ord.lteq(a(i), b(j)))) {
        out += a(i); i += 1
      } else {
        out += b(j); j += 1
      }
    }
    out.toSeq
  }

  override def finish(buf: Seq[Hit]): Seq[Hit] = buf

  override def bufferEncoder: Encoder[Seq[Hit]] = ExpressionEncoder[Seq[Hit]]()
  override def outputEncoder: Encoder[Seq[Hit]] = ExpressionEncoder[Seq[Hit]]()
}
