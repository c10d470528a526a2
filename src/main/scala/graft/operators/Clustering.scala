package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Deterministic Lloyd k-means over embedding columns — the
  * clustering stage a curation pipeline runs before semantic dedup
  * (SemDeDup clusters then prunes within clusters) and
  * diversity-balanced sampling.
  *
  * Engine-portability (the repo's oracle-exactness recipe):
  *   - seeds are the k vectors with the smallest
  *     `(md5(cast(id as string)), id)` — no RNG, any engine replays
  *     the choice;
  *   - distances fold (x−c)² left→right in double precision
  *     ([[VectorFunctions.l2Sq]] ≡ DuckDB `list_sum` on the same
  *     comprehension);
  *   - centroid means are exact-integer sums of per-element
  *     quantizations `floor(x·10⁶ + 0.5)` divided once in double —
  *     an order-free reduction, so Spark's partial aggregation and
  *     DuckDB's single-node sum produce bit-identical centroids
  *     (float-sum order sensitivity is the one thing that would
  *     break cross-engine equality here);
  *   - argmin tie-breaks on (dist, cid) in both engines.
  *
  * Scale design: assignment is map-side — centroids broadcast
  * (k·dim doubles), `min_by` aggregates partially, no shuffle beyond
  * the per-id combine; the update step shuffles (cid, dim) partial
  * sums — k·dim groups regardless of corpus size — after a map-side
  * combine of the exploded (row·dim) stream. Iterations are a fixed
  * small count (Lloyd converges fast; production pipelines run 2-5
  * passes on a sample then one final assign). Seed selection sorts
  * globally but only materializes k rows (TakeOrderedAndProject);
  * at 100 TB you would seed from a TABLESAMPLE with the same hash
  * order.
  */
object Clustering {

  /** id + all-double vector, the working shape. */
  private def vecs(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    // fanOut (r13): every Lloyd assign/update otherwise runs inside
    // the single-row-group scan's one task; hash-partitioning by id
    // parallelizes the distance math and pre-clusters the per-id
    // min_by aggregate (no further exchange). No-op at scale.
    graft.Tables.fanOut(
      emb.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec")),
      col("id"))

  private def seedOrder: Seq[Column] =
    Seq(md5(col("id").cast("string")), col("id"))

  /** k seed centroids `(cid ∈ 1..k, c)` by md5-of-id order. The
    * unpartitioned window runs AFTER limit(k): k rows, bounded at
    * any corpus size. */
  private def seeds(v: DataFrame, k: Int): DataFrame =
    v.orderBy(seedOrder: _*).limit(k)
      .select(row_number().over(Window.orderBy(seedOrder: _*)).as("cid"),
        col("vec").as("c"))

  /** Argmin over a LITERAL centroid list as a left-to-right fold:
    * returns the `(d, cid)` struct of the nearest centroid. Strict
    * `<` over cid-ascending centroids keeps the FIRST minimum — the
    * same (dist, cid) tie-break as the previous broadcast-join +
    * min_by formulation, with identical [[VectorFunctions.l2Sq]]
    * doubles. Map-only (r14): no broadcast exchange, no join, no
    * n·k-row aggregate — each assignment pass is a single narrow
    * stage over the cached vectors at any corpus size (the k·dim
    * centroid literal is the same micro-envelope the round collect
    * already materializes).
    */
  private def bestCentroid(vec: Column,
      cents: Seq[(Int, Array[Double])]): Column = {
    val sorted = cents.sortBy(_._1)
    val centLit = array(sorted.map { case (cid, c) =>
      struct(lit(cid).as("cid"), typedLit(c.toSeq).as("c"))
    }: _*)
    VectorFunctions.nearestCentroid(vec, centLit)
  }

  /** `(id, cid, dist, vec)` for every row against literal centroids
    * — the map-only assignment (empty-centroid corpus degenerates to
    * an empty input, so the constant fallback row never surfaces). */
  private def assignLit(v: DataFrame,
      cents: Seq[(Int, Array[Double])]): DataFrame = {
    val best =
      if (cents.isEmpty)
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("cid"))
      else bestCentroid(col("vec"), cents)
    v.select(col("id"), col("vec"), best.as("b"))
      .select(col("id"), col("b.cid").as("cid"),
        col("b.d").as("dist"), col("vec"))
  }

  /** Final centroid table `(cid, c)` after `iters` Lloyd rounds —
    * the model artifact a pipeline persists and re-applies at ingest
    * ([[assignToCentroids]]).
    *
    * Each round's centroids are MATERIALIZED to the driver (k rows ×
    * dim doubles — the same micro-envelope as [[Similarity.annIvf]]'s
    * eager centroid sample) and re-injected as a literal table:
    * without this the loop nests lineage, so evaluating round r
    * re-executes every earlier round's corpus scan (the classic
    * iterative-algorithm lineage blow-up; at 100 TB round 2 would
    * scan the corpus three times instead of once). Values are
    * unchanged — the collect carries the exact doubles the lazy plan
    * would produce — so the DuckDB oracles are unaffected.
    */
  /** Driver-side centroid list after `iters` Lloyd rounds — the
    * k·dim micro-envelope every round already collected (class doc);
    * r14 keeps it ON the driver between rounds instead of
    * re-injecting a one-row-partition DataFrame, so each round is
    * exactly one Spark job: the map-only [[assignLit]] fused into the
    * (cid, p) partial-sum aggregate, ONE k·dim-group shuffle, and a
    * ≤k·dim-row collect. The per-dimension mean is assembled here
    * with the same single multiply-then-divide
    * (`s / (1e6 * n)`) the previous in-plan expression evaluated —
    * bit-identical IEEE sequence, so centroids (and the oracle) are
    * unchanged.
    */
  def centroidSeq(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, iters: Int = 2): Seq[(Int, Array[Double])] = {
    // r14: cache the working vectors eagerly — seeds, every round's
    // assign, and the caller's final assign all reference this same
    // subtree, so without the cache the scan + double-cast + fanOut
    // exchange re-executed once per consumer (iters+2 times). Same
    // multi-consumer envelope as annPq's `subs` / semDedupPrune's
    // `full`; CacheManager's sameResult match means the caller's
    // vecs() plan hits this entry too. MEMORY_AND_DISK spills
    // gracefully at scale; values are byte-identical either way.
    val v = graft.CachedPlans.cache(vecs(emb, idCol, vecCol))
    v.count()
    var cents: Seq[(Int, Array[Double])] =
      seeds(v, k).collect().toSeq.map { r =>
        (r.getInt(0), r.getSeq[Double](1).toArray)
      }
    for (_ <- 1 to iters) {
      // exact-integer per-dimension sums (class doc): floor(x·1e6+.5)
      // is an exact integer in double, its sum is order-free, and
      // the single s/(1e6·n) division happens once per (cid, p)
      val parts = assignLit(v, cents)
        .select(col("cid"), posexplode(col("vec")).as(Seq("p", "x")))
        .withColumn("q", floor(col("x") * lit(1e6) + lit(0.5)))
        .groupBy(col("cid"), col("p"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .collect()
      // s is LONG (Spark floor returns BIGINT); the mean replays the
      // old in-plan `cast(s as double) / (1e6 * cast(n as double))`
      cents = parts.toSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).toSeq
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_._2)
            .map { case (_, _, s, n) => s.toDouble / (1e6 * n.toDouble) }
            .toArray)
        }.sortBy(_._1)
    }
    cents
  }

  /** Final centroid TABLE `(cid, c)` — the persistable model
    * artifact, same schema as before the r14 driver-side loop. */
  def centroidTable(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = true)))
    val rows = centroidSeq(emb, idCol, vecCol, k, iters).map {
      case (cid, c) => org.apache.spark.sql.Row(cid, c.toSeq)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Final per-row assignment carrying the working vector:
    * `(id, cid, dist, vec)` — feeds [[semDedupPrune]]. Map-only over
    * the vectors [[centroidSeq]] cached (CacheManager sameResult).
    */
  def kmeansAssignFull(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, iters: Int = 2): DataFrame =
    assignLit(vecs(emb, idCol, vecCol),
      centroidSeq(emb, idCol, vecCol, k, iters))

  /** Final per-row cluster assignment after `iters` Lloyd rounds:
    * `(id, cid, dist)` with dist the squared L2 to the final
    * centroid. A cluster emptied mid-iteration simply drops out of
    * the centroid table (both engines agree).
    */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, iters: Int = 2): DataFrame =
    kmeansAssignFull(emb, idCol, vecCol, k, iters)
      .select(col("id"), col("cid"), col("dist"))

  /** SemDeDup within-cluster prune: a row is dropped when an
    * earlier-id row in the SAME k-means cluster is cosine-similar
    * beyond `threshold`; returns every row with its verdict
    * `(id, cid, kept)`. Pairwise work happens only inside clusters —
    * Σ|cluster|² instead of n², which is the entire point of
    * clustering before semantic dedup (SemDeDup, Abbas et al. 2023).
    * "Earlier id wins" is any-earlier-similar (one pass, no
    * keep-chain iteration): engine-portable and shuffle-bounded,
    * whereas the greedy chain is inherently sequential per cluster.
    * The threshold compares RAW double cosines — identical
    * left-to-right folds on both engines, so no epsilon is needed.
    */
  def semDedupPrune(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, iters: Int = 2,
      threshold: Double = 0.35): DataFrame = {
    // three consumers (self-join sides a/b + the final left join)
    // reference the corpus×centroid assignment — cache it eagerly or
    // the O(n·k) distance evaluation runs three times (the
    // shingleSets/lshBandKeys precedent in Dedup)
    val full = graft.CachedPlans.cache(
      kmeansAssignFull(emb, idCol, vecCol, k, iters))
    full.count()
    val dropped = full.as("a")
      .join(full.as("b"),
        col("a.cid") === col("b.cid") && col("b.id") < col("a.id") &&
          VectorFunctions.cosine(col("a.vec"), col("b.vec"))
            >= threshold,
        "left_semi")
      .select(col("id")).distinct().withColumn("dropped", lit(true))
    full.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
  }

  /** Stateless nearest-centroid routing for ingest/streaming: folds
    * the (small) centroid list carried as a plan literal — map-only,
    * no join, no state, so it composes with any streaming plan.
    * Centroids are sorted by cid and the fold keeps the first
    * minimum, matching the batch (dist, cid) tie-break. For
    * centroid tables beyond literal size (IVF-scale), the
    * broadcast-variable expression path is the model
    * ([[graft.plans.NearestCellsBcastExpr]]).
    */
  def assignToCentroids(vec: Column,
      cents: Seq[(Int, Array[Double])]): Column =
    bestCentroid(vec, cents).getField("cid")

  /** Cluster-balanced (diversity) sample: the `perCluster`
    * hash-first rows of every final cluster — the "spread the
    * training mix across semantic space" selection. WindowGroupLimit
    * prunes beyond-rank rows map-side.
    */
  def clusterSample(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, iters: Int = 2, perCluster: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("cid")).orderBy(seedOrder: _*)
    kmeansAssign(emb, idCol, vecCol, k, iters)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCluster)
      .select(col("id"), col("cid"), col("rank"))
  }
}
