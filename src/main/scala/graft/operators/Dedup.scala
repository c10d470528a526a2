package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.plans.Sketches

/** Document deduplication operators (BASELINE.json north star).
  *
  * Scale design, in order of cost at 100 TB:
  *  - [[exactGroups]] / [[dropExact]]: one hash-groupBy shuffle on a
  *    16-byte digest — the cheapest possible full-corpus dedup.
  *  - [[jaccardShinglePairs]]: inverted-index self-join on shingles —
  *    never materializes the O(n²) pair space, only pairs that share
  *    ≥1 shingle. Hot (stop-phrase) shingles are the skew risk:
  *    `maxShingleDocFreq` drops shingles appearing in more than that
  *    many docs (standard df-pruning; a shingle shared by half the
  *    corpus carries no near-dup signal but dominates the join).
  *  - [[minhashLshCandidates]] / [[minhashLshPairs]]: the 100 TB path.
  *    Signature size is constant per doc (k hashes) regardless of doc
  *    length; candidate generation joins on (band, bandHash) buckets,
  *    so the shuffle volume is k/r keys per doc, and verification
  *    runs per-candidate-pair as a codegen'd array intersection.
  *  - [[simhashPairs]]: constant 8-byte sketch per doc; banding on
  *    8-bit chunks (pigeonhole: hamming ≤ 7 ⇒ some chunk equal)
  *    keeps candidate generation to 8 equality joins.
  *
  * The sketches themselves are native Catalyst expressions
  * ([[graft.plans.Sketches]]) — the HOF formulations in TextFunctions
  * are interpreted and hash every shingle k times (~400 s/query at
  * sf0.1); the native ones hash once per shingle (sub-second).
  */
object Dedup {

  /** Exact-duplicate groups keyed by md5(text): group digest, copy
    * count, canonical (minimum) id.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("canonical_id"))

  /** Exact dedup: keep the minimum-id row per distinct text. */
  def dropExact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as(idCol))
      .drop("text_md5")

  /** Distinct word n-grams of `text`, for every shingle-based path. */
  private[graft] def shingleSet(text: Column, n: Int): Column =
    array_distinct(wordShingles(text, n))

  /** Exact Jaccard of two distinct shingle sets, as a double. */
  private[graft] def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Distinct word-n-gram shingle set per doc, persisted. All
    * shingle-based dedup paths (Jaccard, MinHash-LSH) start from this
    * plan; Spark's CacheManager matches the identical sub-plan across
    * calls, so the corpus is shingled once per (table, n), not once
    * per query. Also a correctness guard: without the cache barrier,
    * Catalyst re-derives `size(..) > 0` constraints under the explode
    * and evaluates the shingling expression 3× per row per join side.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // fanOut (r13): shingling fused into a single-row-group scan runs
    // one-task; spreading the raw docs first parallelizes both the
    // shingle build and — because the CACHE inherits the partitioning
    // — every downstream explode/join map side. No-op at scale.
    graft.CachedPlans.cache(
      graft.Tables.fanOut(docs, col(idCol)).select(col(idCol).as("id"),
        shingleSet(col(textCol), n).as("shs")))

  /** Exact n-gram Jaccard near-dup pairs, prefix-filtered.
    *
    * Shingles are first hashed to 64-bit keys (distinctness and
    * intersection sizes are preserved short of an xxhash64 collision,
    * ~n²/2⁶⁵ for n distinct shingles corpus-wide), so every later
    * stage moves 8-byte longs instead of ~40-byte strings.
    *
    * The inverted-index self-join matches docs per shared shingle and
    * counts matches per pair — the pair count IS the intersection
    * size, so no second pass over the sets is needed. The per-doc set
    * size rides along through the explode (constant per doc, min() in
    * the pair aggregate recovers it), so Jaccard falls out of one
    * groupBy. Measured against both a prefix-filtered variant
    * (Chaudhuri ICDE'06 / Vernica VLDB'10: explode only the first
    * |s| − ceil(t·|s|) + 1 shingles, verify survivors by
    * array_intersect) and an inline array-carry variant, this
    * formulation wins at bench scale — fewest shuffle stages — and
    * its one scale risk (the pair-match stream shuffles under
    * nearly-unique keys) is bounded by df-pruning, which caps match
    * multiplicity per shingle; at extreme corpus sizes flip to
    * [[minhashLshPairs]], whose shuffle volume is constant per doc.
    *
    * Returns (id_a, id_b, common, n_a, n_b, jaccard), jaccard ≥
    * threshold, computed over the (optionally df-pruned) sets.
    */
  def jaccardShinglePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxShingleDocFreq: Option[Int] = None,
      maxShingleDocFreqDivisor: Option[Int] = None): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, n)
    val hashed = sets.select(col("id"),
      transform(col("shs"), s => xxhash64(s)).as("hs"))
    // Explode-then-hash instance stream (r14, guide §4.1): xxhash64
    // over an exploded string column is whole-stage codegen, whereas
    // the `transform` lambda above is an interpreted CodegenFallback
    // evaluated per shingle. Identical (id, h) multiset (shs is
    // already distinct per doc, and hashing commutes with explode);
    // used wherever the ARRAY form isn't needed — the df branch and
    // the un-pruned posting stream. The array-form `hashed` remains
    // only for the pruned path's array_except.
    val instances = sets.select(col("id"),
        size(col("shs")).cast("long").as("n_sh"),
        explode(col("shs")).as("s"))
      .select(col("id"), col("n_sh"), xxhash64(col("s")).as("h"))
    // The pruning threshold is either a constant or derived IN-PLAN
    // as max(⌊|docs| / divisor⌋, 1) — a one-row aggregate broadcast
    // into the df stream. No driver-side count(): building this query
    // launches no job beyond the unpruned build's (PlanSpec
    // "q_dedup_jaccard_pruned: plan build runs no extra driver job"
    // asserts it), which matters at 100 TB where a plan-time count()
    // is a full extra scan.
    val thr: Option[DataFrame] =
      (maxShingleDocFreq, maxShingleDocFreqDivisor) match {
        case (Some(m), _) =>
          Some(docs.sparkSession.range(1)
            .select(lit(m.toLong).as("max_df")))
        case (_, Some(d)) =>
          // count over the CACHED shingle-set table, not raw `docs`:
          // shingleSets is row-1:1 with docs (a select over fanOut),
          // so the value is identical, but this reads the in-memory
          // cache instead of re-executing the docs subtree (for
          // q_dedup_containment that subtree is a union + broadcast
          // offset aggregate — re-run once per invocation before)
          Some(sets.agg(greatest(
            floor(count(lit(1)) / d).cast("long"), lit(1L)).as("max_df")))
        case _ => None
      }
    // df-pruning stays array-level: the hot set (shingles in > maxDf
    // docs) is tiny by definition, so collect it into one broadcast
    // row and array_except per doc — no extra shuffle.
    // bigint set sizes: DuckDB count()/len() are 64-bit, and the
    // driver's oracle compare is schema-exact
    val sh = thr match {
      case Some(t) =>
        val hot = instances.select(col("h"))
          .groupBy("h").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(t))
          .filter(col("df") > col("max_df"))
          .agg(collect_set(col("h")).as("hot"))
        hashed.crossJoin(broadcast(hot))
          .select(col("id"), array_except(col("hs"), col("hot")).as("hs"))
          .select(col("id"), size(col("hs")).cast("long").as("n_sh"),
            explode(col("hs")).as("h"))
      case None => instances
    }
    // Pair generation, two shapes by pruning mode (r14, guide
    // §2.3/§2.4; both measured at sf0.1):
    //  - DF-PRUNED: ONE groupBy(h) collecting the sorted (id, n_sh)
    //    posting list, a<b combinations unrolled map-side (the same
    //    rewrite that took the co-supply graph and basket miners off
    //    their self-joins in r13). The pruned instance stream is
    //    exchanged ONCE instead of feeding both sides of a
    //    SortMergeJoin (the broadcast-hot-set crossJoin in each side's
    //    subtree kept ReuseExchange from deduplicating them — the
    //    pruned pipeline ran twice). Posting-list length is bounded by
    //    max_df BY CONSTRUCTION, so the per-group array is the
    //    at-scale-safe shape. Measured: containment 4.40 → 2.90 s,
    //    jaccard_pruned 2.70 → 2.23 s solo.
    //  - UN-PRUNED: keep the inverted-index self-join — both sides
    //    are the identical cached subtree, ReuseExchange builds the
    //    sorted posting exchange once and the merge join streams
    //    pairs with codegen; the collect_list formulation measured 2×
    //    SLOWER here (ngram 0.68 → 1.38 s: unbounded posting lists
    //    pay ObjectHashAggregate churn the join path never builds).
    // Identical pair multiset either way: each shared shingle
    // contributes exactly one (id_a < id_b) row, so `common` (= the
    // intersection size) and the carried n_a/n_b are unchanged.
    val paired =
      if (thr.nonEmpty) {
        // r14 (second pass): CACHE the pruned instance stream and
        // self-join it — the reuse failure that motivated the
        // collect_list shape (the broadcast-hot-set crossJoin inside
        // both join sides defeated ReuseExchange) disappears once
        // both sides scan one InMemoryRelation, and the sorted-merge
        // pair stream beats the ObjectHashAggregate posting build
        // (the un-pruned branch's standing measurement). Lazy cache:
        // plan build must launch no job (PlanSpec gate), and the two
        // sides cannot race the fill — their identical
        // scan-cache→sort-exchange subtrees dedupe into ONE exchange.
        val src = graft.CachedPlans.cache(sh)
        src.as("a")
          .join(src.as("b"),
            col("a.h") === col("b.h") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
          .agg(count(lit(1)).as("common"))
      } else
        sh.as("a")
          .join(sh.as("b"),
            col("a.h") === col("b.h") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
          .agg(count(lit(1)).as("common"))
    paired
      .select(col("id_a"), col("id_b"), col("common"),
        col("n_a"), col("n_b"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination: per training doc, how many of its
    * distinct word n-grams also occur in a held-out benchmark set
    * (the GPT-3/Gopher-style overlap filter run before every training
    * job, so eval examples leaked into the crawl don't inflate
    * scores; a doc is then dropped or split at a fraction threshold).
    *
    * Scale shape: the benchmark is orders of magnitude smaller than
    * the corpus, so its distinct shingle set is BROADCAST and the
    * 100 TB train side matches map-side — the corpus itself is never
    * shuffled, only the per-doc hit counts (≤ one row per
    * contaminated doc) move. Shingles are xxhash64-narrowed to
    * 8-byte keys like [[jaccardShinglePairs]]. Returns one row per
    * CONTAMINATED doc: (id, n_contaminated, n_grams,
    * contaminated_frac).
    */
  def ngramContamination(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    def hashedSets(df: DataFrame) = df
      .select(col(idCol).as("id"),
        transform(shingleSet(col(textCol), n),
          s => xxhash64(s)).as("hs"))
      .filter(size(col("hs")) > 0)
    val benchSh = hashedSets(bench)
      .select(explode(col("hs")).as("h")).distinct()
    hashedSets(train)
      .select(col("id"), size(col("hs")).cast("long").as("n_grams"),
        explode(col("hs")).as("h"))
      .join(broadcast(benchSh), "h")
      .groupBy(col("id"))
      // n_grams is constant per id; min() rides it through the agg
      // without a second join against the per-doc counts
      .agg(count(lit(1)).as("n_contaminated"),
        min(col("n_grams")).as("n_grams"))
      .select(col("id"), col("n_contaminated"), col("n_grams"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 4)
          .as("contaminated_frac"))
  }

  /** The signature-to-band generator of batch and stream: per row of
    * `sets` with a non-empty `shs`, the `keep` columns plus one
    * `(band, band_key)` row per slice of the k-slot MinHash signature.
    */
  private[graft] def bandRows(sets: DataFrame, keep: Seq[String],
      k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be a multiple of bands")
    val r = k / bands
    val kept = keep.map(col)
    // empty shingle sets are excluded (they'd all collide on the
    // MaxValue signature; the oracle, where such docs simply have no
    // shingle rows, excludes them too)
    sets.filter(size(col("shs")) > 0)
      .select(kept :+ Sketches.minhashSignature(col("shs"), k).as("sig"): _*)
      // band key = the r-slot slice itself (not an engine-specific
      // hash of it): collision ⇔ slice equality, which any engine —
      // and the DuckDB oracle — reproduces exactly
      .select(kept :+ posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => slice(col("sig"), j * lit(r) + lit(1), lit(r))))
        .as(Seq("band", "band_key")): _*)
  }

  /** LSH band-key rows for a corpus: `(id, band, band_key)`. This IS
    * the persistable dedup index: write it (bucketed by band_key)
    * once per corpus snapshot and every future batch matches against
    * it without re-sketching the corpus ([[minhashLshIncremental]]).
    * Persisted (bands rows per doc): both sides of the self-join
    * would otherwise recompute shingling+signatures.
    */
  def lshBandKeys(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame =
    graft.CachedPlans.cache(
      bandRows(shingleSets(docs, idCol, textCol, n), Seq("id"), k, bands))

  /** MinHash + LSH candidate pairs: band the k-slot signature into
    * `bands` buckets of k/bands rows each and join docs that share
    * any (band, bandHash) bucket.
    */
  def minhashLshCandidates(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame = {
    val bandKeys = lshBandKeys(docs, idCol, textCol, n, k, bands)
    bandKeys.as("a")
      .join(bandKeys.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs: LSH candidates verified with the
    * exact per-pair Jaccard (codegen'd array_intersect — no shuffle;
    * the quadratic space is never touched, only LSH survivors).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 128, bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, n)
    minhashLshCandidates(docs, idCol, textCol, n, k, bands)
      .join(sets.as("sa"), col("id_a") === col("sa.id"))
      .join(sets.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sa.shs"), col("sb.shs")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup: a NEW batch of docs matched against an
    * already-indexed corpus — the production dedup path at 100 TB,
    * where re-pairing the whole corpus per ingest
    * ([[minhashLshPairs]]) would re-shuffle petabytes daily. Band
    * keys of the batch join the corpus's band-key index
    * ([[lshBandKeys]] — in production read back from its stored,
    * band_key-bucketed snapshot, so the index side doesn't shuffle
    * either); survivors verify with exact Jaccard. Shuffle volume is
    * O(batch) + O(candidates), independent of corpus size. Returns
    * `(new_id, corpus_id, jaccard)`, jaccard ≥ threshold.
    */
  def minhashLshIncremental(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, k: Int = 128, bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    val idx = lshBandKeys(corpus, idCol, textCol, n, k, bands)
    val batch = lshBandKeys(newDocs, idCol, textCol, n, k, bands)
    val cand = batch.as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key"))
      .select(col("a.id").as("new_id"), col("b.id").as("corpus_id"))
      .distinct()
    val newSets = shingleSets(newDocs, idCol, textCol, n)
    val corpusSets = shingleSets(corpus, idCol, textCol, n)
    cand
      .join(newSets.as("sa"), col("new_id") === col("sa.id"))
      .join(corpusSets.as("sb"), col("corpus_id") === col("sb.id"))
      .select(col("new_id"), col("corpus_id"),
        jaccard(col("sa.shs"), col("sb.shs")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: 64-bit sketch per doc over word
    * 3-gram shingles (shingles, not tokens — order-sensitivity makes
    * unrelated docs decorrelate to hamming ≈ 32 even on a shared
    * vocabulary), banded on the eight 8-bit chunks (pigeonhole: any
    * pair at hamming ≤ 7 must agree on at least one chunk), exact
    * hamming verification on candidates.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7): DataFrame = {
    // shingle-less docs are excluded (their sketch would degenerate
    // to 0 and pair with every other empty doc; the oracle has no
    // shingle rows for them either)
    val sketched = docs
      .filter(size(wordShingles(col(textCol), 3)) > 0)
      .select(col(idCol).as("id"),
        Sketches.simhash64(wordShingles(col(textCol), 3)).as("sim"))
    // shiftright needs a literal shift in the Scala DSL; chunk in SQL.
    // Persisted: 8 small rows per doc, reused by both self-join sides.
    val chunked = graft.CachedPlans.cache(
      sketched.select(col("id"), col("sim"),
        posexplode(expr(
          "transform(sequence(0, 7), j -> (shiftright(sim, j * 8) & 255L))"))
          .as(Seq("chunk", "chunk_val"))))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.TextFunctions.hamming64(col("a.sim"), col("b.sim"))
          .as("hamming"))
      // verify BEFORE dedup: the hamming filter kills ~99.9% of the
      // banding candidates, so the distinct only shuffles survivors
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Near-dup PAIRS collapsed into dedup CLUSTERS: every node gets
    * the minimum doc id reachable through the pair graph — the step
    * that turns a pair list into "keep one canonical doc per group".
    *
    * Min-label propagation accelerated by pointer jumping: each
    * round a node takes the minimum of (its label, its neighbors'
    * labels, its label's OWN label). The label is always the id of a
    * node in the same component, so the label-of-label lookup is a
    * legal shortcut — it is the path-halving step of classic
    * union-find, collapsing convergence from O(diameter) rounds to
    * O(log diameter). Each round is one Spark action: the
    * changed-label count rides on that action as an `observe()`
    * metric instead of a second convergence job. Intermediate labels
    * persist per round and unpersist eagerly, so lineage doesn't
    * accumulate across rounds.
    *
    * Throws if `maxRounds` is hit before convergence (a silently
    * part-propagated labeling looks exactly like a correct one —
    * fail loudly instead).
    *
    * Returns (id, cluster_id) for every node that appears in a pair.
    */
  def connectedComponents(pairs: DataFrame, aCol: String,
      bCol: String, maxRounds: Int = 50,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    // persist the pair list before symmetrizing: the union reads it
    // twice (or the driver path collects it once), and pairs are
    // typically the output of an expensive similarity join
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      // a pair with a null endpoint is not an edge — drop it HERE so
      // both execution strategies see the same graph (previously the
      // driver path skipped such pairs entirely while the
      // distributed path self-labeled the non-null endpoint and
      // emitted a (null, null) row: the size-adaptive switch changed
      // RESULTS, not just the plan)
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // size-adaptive execution. The pair count() is the operator's one
    // EAGER driver action: it sizes the strategy and materializes the
    // persist. A graph at or under `driverMaxEdges` (≤ ~32 MB of id
    // pairs — the same driver-memory envelope as collecting a
    // broadcast dimension) skips the iterative plan entirely:
    // label-propagation rounds over a few thousand edges are pure
    // scheduler overhead, while an in-memory union-find is exact and
    // instant. Bigger graphs run the distributed pointer-jumping
    // loop below — the 100 TB path, regression-tested by forcing
    // driverMaxEdges = 0 in DedupSpec.
    if (p.count() <= driverMaxEdges) {
      val out = driverUnionFind(p)
      p.unpersist()
      return out
    }
    val edges0 = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // keep tiny-but-above-threshold graphs single-partition: every
    // round otherwise launches |partitions| tasks for KBs of data
    val edges =
      if (edges0.count() < (1L << 20)) edges0.coalesce(1) else edges0
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val propagated = edges
        .join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("cluster_id")).as("nbr_min"))
      // pointer jumping: look up the label of the current label
      val hop2 = labels.as("l1")
        .join(labels.as("l2"), col("l1.cluster_id") === col("l2.id"))
        .select(col("l1.id").as("h_id"), col("l2.cluster_id").as("jump_min"))
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$round")
      val next = labels
        .join(propagated, col("id") === col("dst"), "left")
        .join(hop2, col("id") === col("h_id"), "left")
        .select(col("id"), col("cluster_id").as("old_cid"),
          least(col("cluster_id"),
            coalesce(col("nbr_min"), col("cluster_id")),
            coalesce(col("jump_min"), col("cluster_id"))).as("cluster_id"))
        .observe(obs, sum(when(col("cluster_id") < col("old_cid"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("id"), col("cluster_id"))
        // localCheckpoint, not persist: a persisted plan keeps its
        // full lineage, so the logical plan DOUBLES per round — the
        // sf10 exact-tier run (200k vectors, ~10M-edge cliques) hit
        // Spark's 2GB plan-string cap every round, gigabytes of
        // driver string-building per iteration. Checkpointing
        // truncates the lineage to the materialized blocks; the
        // eager flag is the round's one action and still fires the
        // changed-count observation (the observe node executes in
        // the checkpoint job).
        .localCheckpoint( /* eager = */ true)
      // eager checkpoint above already ran the plan; obs.get below
      // would otherwise block forever on a lazy one
      val changed = Option(obs.get("changed"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      labels.unpersist()
      labels = next
      converged = changed == 0
      round += 1
    }
    p.unpersist()
    edges0.unpersist()
    require(converged,
      s"connected components did not converge within $maxRounds rounds")
    labels
  }

  /** Exact in-memory union-find (path compression + union by rank)
    * over a collected pair list, for graphs small enough to fit the
    * broadcast-dim driver envelope. Roots are resolved to the MINIMUM
    * member id afterwards, matching the distributed min-label
    * semantics exactly. Ids must be Comparable (numeric/string —
    * every id column in the engine is).
    */
  private def driverUnionFind(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    val dt = p.schema("src").dataType
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    val rank = scala.collection.mutable.HashMap.empty[Any, Int]
    def find(x0: Any): Any = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val gp = parent.getOrElse(parent(x), parent(x))
        parent(x) = gp // path halving
        x = gp
      }
      x
    }
    def union(a: Any, b: Any): Unit = {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (qa, qb) = (rank.getOrElse(ra, 0), rank.getOrElse(rb, 0))
        if (qa < qb) parent(ra) = rb
        else if (qa > qb) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = qa + 1 }
      }
    }
    p.collect().foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) union(r.get(0), r.get(1))
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keys.foreach { id =>
      val root = find(id)
      val cur = minOfRoot.get(root)
      if (cur.isEmpty ||
          id.asInstanceOf[Comparable[Any]].compareTo(cur.get) < 0)
        minOfRoot(root) = id
    }
    val rows = parent.keys.toSeq.map { id =>
      org.apache.spark.sql.Row(id, minOfRoot(find(id)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt),
      org.apache.spark.sql.types.StructField("cluster_id", dt)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Embedding near-dup pairs within a blocking key (e.g. a cluster
    * label or LSH bucket): exact double-precision cosine
    * ([[VectorFunctions.cosine]], null for a degenerate vector) on the
    * blocked pair space. Blocking keeps the join linear-ish.
    */
  def embeddingPairsCosine(vecs: DataFrame, idCol: String, vecCol: String,
      blockCol: String): DataFrame = {
    val v = vecs.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(vecCol).as("vec"))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        VectorFunctions.cosine(col("a.vec"), col("b.vec")).as("cos"))
  }
}
