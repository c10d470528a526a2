package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.AsOfJoin

/** Extended join/aggregation surface: as-of join, range join, pivot,
  * multiset set-ops, approximate distinct (HLL + portable KMV).
  */
object JoinExtQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // As-of join: for each purchase, the user's most recent prior
    // (or simultaneous) error event. One shuffle+sort, no range
    // explosion (see AsOfJoin docs).
    "q_asof_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"),
          col("event_id").as("err_id"), col("ts").as("err_ts"))
      AsOfJoin.asOf(purchases, errors, "user_id", "ts",
          Seq("err_id", "err_ts"))
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("time_ms"),
          col("err_id"),
          unix_millis(col("err_ts")).as("err_ms"))
        .orderBy(col("event_id"))
    },

    // The same as-of semantics through the (c)-tier whole-operator
    // path: custom LogicalPlan -> AsOfJoinStrategy -> sort-merge
    // AsOfMergeJoinExec (graft.plans.AsOfJoinNative). Shares the
    // composition query's oracle — the two implementations must be
    // indistinguishable row-for-row.
    "q_asof_join_native" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"),
          col("event_id").as("err_id"), col("ts").as("err_ts"))
      graft.plans.AsOfJoinNative.asOfMerge(purchases, errors,
          "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("time_ms"),
          col("err_id"),
          unix_millis(col("err_ts")).as("err_ms"))
        .orderBy(col("event_id"))
    },

    // The same as-of semantics a third way: PURE SQL through the
    // asof_on marker + join rewrite (RewriteSqlAsOfJoin, injected by
    // GraftExtensions) — the surface a spark-sql / JDBC user gets.
    // Shares the composition query's oracle; all three
    // implementations must agree.
    "q_asof_join_sql" -> { (s, dir) =>
      t(s, dir, "events").createOrReplaceTempView("graft_asof_events")
      s.sql("""
        WITH p AS (
          SELECT event_id, user_id, ts FROM graft_asof_events
          WHERE event_type = 'purchase'),
        e AS (
          SELECT user_id, ts AS err_ts, event_id AS err_id
          FROM graft_asof_events WHERE event_type = 'error')
        SELECT p.event_id, p.user_id, unix_millis(p.ts) AS time_ms,
               e.err_id, unix_millis(e.err_ts) AS err_ms
        FROM p LEFT JOIN e
          ON asof_on(p.user_id = e.user_id, p.ts, e.err_ts)
        ORDER BY p.event_id""")
    },

    // First-class ASOF JOIN syntax (injectParser — see
    // graft.plans.AsOfSyntax): the Spark side and the DuckDB oracle
    // run the SAME SQL text, modulo epoch-function spelling — both
    // engines parse `ASOF LEFT JOIN ... ON key equality AND
    // left.ts >= right.ts` and produce the identical backward-looking
    // match. Requires a session built with
    // spark.sql.extensions=graft.GraftExtensions (Verify/Bench are).
    "q_asof_join_syntax" -> { (s, dir) =>
      t(s, dir, "events").createOrReplaceTempView("graft_asof_events")
      s.sql("""
        WITH p AS (
          SELECT event_id, user_id, ts FROM graft_asof_events
          WHERE event_type = 'purchase'),
        e AS (
          SELECT user_id, ts, event_id AS err_id
          FROM graft_asof_events WHERE event_type = 'error')
        SELECT p.event_id, p.user_id, unix_millis(p.ts) AS time_ms,
               e.err_id, unix_millis(e.ts) AS err_ms
        FROM p ASOF LEFT JOIN e
          ON p.user_id = e.user_id AND p.ts >= e.ts
        ORDER BY p.event_id""")
    },

    // Time-grid resampling with last-observation-carried-forward —
    // the sensor/track gap-fill every time-series pipeline needs
    // (the reference replays its cache on a fixed cadence whether or
    // not fresh points arrived, `task.ts:243-263` — this is that
    // semantics as a relational operator). A per-entity hourly grid
    // is GENERATED (sequence+explode — no calendar table to store),
    // then the native as-of merge join fills each grid tick with the
    // newest observation at-or-before it. Scale shape: grid
    // generation is map-side from the per-entity bounds aggregate;
    // the fill is the one sort-merge as-of pass — no range
    // explosion, no per-tick window.
    "q_asof_resample" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val bounds = ev.groupBy(col("user_id")).agg(
        date_trunc("hour", min(col("ts"))).as("t0"),
        max(col("ts")).as("t1"))
      val grid = bounds.select(col("user_id"),
        explode(sequence(col("t0"), col("t1"), expr("interval 1 hour")))
          .as("ts"))
      val obs = ev.select(col("user_id"), col("ts"),
        col("value").as("obs_value"), unix_millis(col("ts")).as("obs_ms"))
      graft.plans.AsOfJoinNative.asOfMerge(grid, obs, "user_id", "ts")
        .select(col("user_id"), unix_millis(col("ts")).as("grid_ms"),
          col("obs_value"),
          (unix_millis(col("ts")) - col("obs_ms")).as("age_ms"))
        .orderBy(col("user_id"), col("grid_ms"))
    },

    // Interval-overlap join, fact × fact, UNKEYED — the shape that
    // nested-loops at scale unless blocked. Each interval (event ts
    // + value-derived duration) explodes to the hour-chunks it
    // covers (bounded: duration ≤ ~82 min → ≤ 3 chunks); the join is
    // then a plain EQUI-join on the chunk key with the overlap
    // predicate as a post-filter. Duplicate hits (a pair overlapping
    // in 2+ shared chunks) are eliminated WITHOUT a distinct: only
    // the chunk containing greatest(a_s, b_s) — the overlap's start,
    // which both sides of a true overlap share — owns the pair, so
    // dedup is a map-side filter, not a shuffle. At 100 TB this is
    // the difference between a cartesian and a hash join whose key
    // cardinality is the time axis.
    "q_interval_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      def iv(types: Seq[String], p: String) = ev
        .filter(col("event_type").isin(types: _*))
        .select(col("event_id").as(s"${p}_id"),
          unix_millis(col("ts")).as(s"${p}_s"),
          (unix_millis(col("ts")) +
            floor(col("value") * 100 + 0.5).cast("long") * 10)
            .as(s"${p}_e"))
      def chunked(df: DataFrame, p: String) = df.withColumn("chunk",
        explode(sequence(expr(s"${p}_s div 3600000"),
          expr(s"${p}_e div 3600000"))))
      chunked(iv(Seq("view", "click"), "a"), "a")
        .join(chunked(iv(Seq("error", "purchase"), "b"), "b"), "chunk")
        .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
        .filter(col("chunk") === expr("greatest(a_s, b_s) div 3600000"))
        .select(col("a_id"), col("b_id"),
          (least(col("a_e"), col("b_e")) -
            greatest(col("a_s"), col("b_s"))).as("overlap_ms"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Range join against a tiny literal tier table: broadcast
    // nested-loop on the band predicate — the correct shape when one
    // side is a handful of bands (never shuffle the fact side).
    "q_range_join" -> { (s, dir) =>
      val tiers = s.range(0, 12).toDF("tier")
        .select(col("tier").cast("int").as("tier"),
          (col("tier") * 25.0).as("lo"), ((col("tier") + 1) * 25.0).as("hi"))
      t(s, dir, "events")
        .join(broadcast(tiers),
          col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("value")), 4)
          .as("avg_v"))
        .orderBy(col("tier"))
    },

    // Pivot: per-user event-type counts as fixed columns (explicit
    // value list keeps the schema static — required for both the
    // oracle and any sane production plan).
    "q_pivot" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    },

    // Multiset EXCEPT ALL: order statuses of even orderkeys minus the
    // multiset of odd ones (duplicates preserved).
    "q_set_except_all" -> { (s, dir) =>
      val ord = t(s, dir, "orders")
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderstatus").as("status"))
        .exceptAll(ord.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderstatus").as("status")))
        .orderBy(col("status"))
    },

    // Skew-safe two-stage salted aggregation — result is identical
    // to the plain aggregate (the oracle IS the plain aggregate);
    // decimal sums make the two-stage decomposition exact.
    "q_salted_agg" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("v", col("value").cast("decimal(12,2)"))
      // salt from the row id, not the value: a hot user whose rows
      // share one value must still spread over all 8 buckets
      graft.operators.Skew.saltedSumCount(ev, "user_id", "v",
        salts = 8, saltSrc = Some(col("event_id")))
        .select(col("user_id"),
          round(col("sum_v").cast("double"), 2).as("sum_v"), col("cnt"))
        .orderBy(col("user_id"))
    },

    // Skew-replicated salted JOIN — the join-side counterpart of
    // q_salted_agg: the fact side carries a deterministic 8-way salt,
    // the part dim is replicated per salt, and the join key becomes
    // (partkey, salt) so a hot part's lineitems spread over 8
    // reducers. Row-identical to the plain join (the oracle IS the
    // plain join); SkewSpec measures the max-partition cut on a
    // planted-skew fixture with broadcast disabled. Use when the
    // skew is known up front (vs AQE's runtime split, SkewSpec's
    // other half); cost is salts× the dim shuffle volume.
    "q_join_skew_salted" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
        .withColumnRenamed("p_partkey", "l_partkey")
      graft.operators.Skew.saltedJoin(li, part, "l_partkey",
          struct(col("l_orderkey"), col("l_linenumber")), salts = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity").cast("decimal(18,6)"))
            .cast("decimal(18,6)").cast("double"), 6).as("sum_qty"))
        .orderBy(col("p_brand"))
    },

    // HLL approximate distinct with an ORACLE-CHECKABLE contract:
    // sketch internals differ across engines, so the HLL estimate
    // itself can't be hash-compared — instead the query emits the
    // exact distinct count alongside a boolean asserting the HLL
    // estimate landed within 10% of it. HLL's rsd (0.02 here) is a
    // standard deviation, not a guarantee, so the pinned bound is
    // set at 5σ — wide enough that a legitimate sketch excursion on
    // a fresh scale factor won't surface as a hard correctness
    // failure, tight enough to catch a broken estimator. The oracle
    // reproduces the exact side and pins hll_ok = TRUE. JoinExtSpec
    // additionally gates the raw relative error at the tighter
    // operational level.
    "q_agg_approx_hll" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx"),
          count_distinct(col("o_custkey")).as("exact_cust"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("exact_cust"), col("n"),
          (abs(col("approx") - col("exact_cust")).cast("double") <=
            col("exact_cust") * 0.10).as("hll_ok"))
        .orderBy(col("o_orderstatus"))
    },

    // Bloom-filter runtime join pruning: the urgent-orders key set
    // compressed to 4096 words × 63 bits × 3 hashes, broadcast, and
    // applied to lineitem MAP-SIDE before the exact semi join (the
    // explicit InjectRuntimeFilter shape — see BloomJoin docs for why
    // this is the co-shuffled-join win at 100 TB). The md5-derived
    // bit positions make even the false-positive set deterministic:
    // `bloom_pass_keys` pins the bloom itself cross-engine, while the
    // per-flag aggregate pins the exact-join result (independent of
    // bloom parameters by construction).
    "q_join_bloom" -> { (s, dir) =>
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity").cast("decimal(12,2)").as("qty"))
      val verified = graft.operators.BloomJoin.semiJoinPruned(
          fact, "l_orderkey", urgent, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("qty")).cast("double"), 2).as("sum_qty"))
      val pass = graft.operators.BloomJoin.bloomPass(
          t(s, dir, "lineitem").select(col("l_orderkey")).distinct(),
          "l_orderkey", urgent, "o_orderkey")
        .agg(count(lit(1)).as("bloom_pass_keys"))
      verified.crossJoin(broadcast(pass)).orderBy(col("l_returnflag"))
    },

    // Dynamic partition pruning: the fact side is the day-partitioned
    // events layout; the dim side is a runtime-computed set of days
    // (distinct purchase days of a sparse user cohort, derived from
    // the RAW events table — a different source, so the day set is
    // genuinely unknown until the dim subquery runs). Spark reuses
    // the dim broadcast as a partition filter on the fact scan —
    // whole directories are skipped, not rows (PlanSpec-style
    // assertion in DppSpec). The oracle recomputes the same join
    // day-set from the raw parquet.
    "q_join_dpp" -> { (s, dir) =>
      val fact = s.read.parquet(
        graft.sources.PartitionedEvents.ensure(s, dir))
      val dim = t(s, dir, "events")
        .filter(col("event_type") === "purchase" &&
          col("user_id") % 50 === 0)
        .select(to_date(col("ts")).as("dt")).distinct()
      fact.join(dim, "dt")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("value").cast("decimal(12,2)"))
            .cast("double"), 2).as("sum_v"))
        .orderBy(col("event_type"))
    },

    // Co-located join over bucketed tables: both sides written once
    // as 8-bucket tables on the join key (one sorted file per
    // bucket — see graft.sources.BucketedTables), then joined with
    // ZERO exchange on either join side (BucketingSpec pins the plan
    // shape). The oracle recomputes the identical join from the raw
    // parquet, so this entry also proves the bucketed SINK
    // round-trips the data bit-for-bit.
    "q_join_bucketed" -> { (s, dir) =>
      val (lt, ot) = graft.sources.BucketedTables.ensure(s, dir)
      s.table(lt).join(s.table(ot),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity").cast("decimal(12,2)"))
            .cast("double"), 2).as("sum_qty"),
          round(sum((col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1).cast("decimal(12,2)") -
                col("l_discount").cast("decimal(12,2)"))))
            .cast("double"), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    // KMV (k-minimum-values) distinct sketch, k = 64: estimate =
    // (k−1)·2⁶⁰ / h₍ₖ₎ over the portable md5-derived 60-bit hash
    // (Bar-Yossef et al. RANDOM'02). Unlike HLL the whole estimator
    // is plain deterministic arithmetic, so the DuckDB oracle
    // reproduces the ESTIMATE exactly — approximate w.r.t. the true
    // count, exact w.r.t. the spec. Scale shape: distinct shuffle on
    // (group, 8-byte hash), then the rank ≤ k filter is pruned
    // map-side by WindowGroupLimit — only k rows per group reach the
    // final aggregation.
    "q_agg_distinct_kmv" -> { (s, dir) =>
      val k = 64
      val h = t(s, dir, "orders").select(col("o_orderstatus"),
        Portable.h60(col("o_custkey")).as("h"))
        .distinct()
      val w = Window.partitionBy("o_orderstatus").orderBy("h")
      h.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy(col("o_orderstatus"))
        .agg(max(col("h")).as("hk"), count(lit(1)).as("m"))
        .select(col("o_orderstatus"),
          round(when(col("m") < k, col("m").cast("double"))
            .otherwise(lit((k - 1).toDouble * 1152921504606846976.0)
              / col("hk").cast("double")), 4).as("est_cust"))
        .orderBy(col("o_orderstatus"))
    },
  )

  val oracles: Map[String, String] = Map(
    // The exact side is reproduced; hll_ok = TRUE pins the 10% (5σ)
    // error-bound contract of the Spark-side HLL estimate.
    "q_agg_approx_hll" ->
      """SELECT o_orderstatus,
         count(DISTINCT o_custkey) AS exact_cust,
         count(*) AS n,
         TRUE AS hll_ok
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_agg_distinct_kmv" ->
      """WITH h AS (
           SELECT DISTINCT o_orderstatus,
             ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
               ::BIGINT AS h
           FROM orders),
         topk AS (
           SELECT o_orderstatus, h,
             row_number() OVER (PARTITION BY o_orderstatus ORDER BY h)
               AS rn
           FROM h QUALIFY rn <= 64),
         agg AS (
           SELECT o_orderstatus, max(h) AS hk, count(*) AS m
           FROM topk GROUP BY o_orderstatus)
         SELECT o_orderstatus,
           round(CASE WHEN m < 64 THEN m::DOUBLE
                      ELSE 63.0 * 1152921504606846976.0 / hk::DOUBLE
                 END, 4) AS est_cust
         FROM agg ORDER BY o_orderstatus""",

    // partitioned layout is invisible to the data: same join over
    // the raw events parquet (naive-timestamp date cast = Spark's
    // UTC-session to_date)
    "q_join_dpp" ->
      """WITH dim AS (
           SELECT DISTINCT CAST(ts AS DATE) AS dt FROM events
           WHERE event_type = 'purchase' AND user_id % 50 = 0)
         SELECT e.event_type, count(*) AS n_rows,
           round(CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS sum_v
         FROM events e JOIN dim d ON CAST(e.ts AS DATE) = d.dt
         GROUP BY e.event_type ORDER BY e.event_type""",

    // the bucketed write is a layout property, not a data property:
    // the same join over the raw parquet must agree exactly
    "q_join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
               (CAST(1 AS DECIMAL(12,2)) -
                CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2)
             AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // Replays BloomJoin bit-for-bit: Kirsch–Mitzenmacher positions
    // from the two 60-bit halves of one md5 (h1 = hex 1..15,
    // h2 = hex 17..31; pos_j = (h1%m + j*(h2%(m-1)+1)) % m,
    // m = 4096*63 = 258048), 63 bits/word (sign-safe shifts), bit_or
    // words, all-3-bits-set membership; the verified aggregate is the
    // plain semi join.
    "q_join_bloom" ->
      """WITH dh AS (
           SELECT ('0x' || substring(md5(o_orderkey::VARCHAR), 1, 15))
                    ::BIGINT % 258048 AS b1,
             ('0x' || substring(md5(o_orderkey::VARCHAR), 17, 15))
                    ::BIGINT % 258047 + 1 AS st
           FROM orders WHERE o_orderpriority = '1-URGENT'),
         pos AS (
           SELECT (b1 + j.j * st) % 258048 AS p
           FROM dh CROSS JOIN range(3) j(j)),
         bits AS (
           SELECT p // 63 AS w,
             bit_or(1::BIGINT << (p % 63)::INT) AS word
           FROM pos GROUP BY 1),
         kdh AS (
           SELECT k,
             ('0x' || substring(md5(k::VARCHAR), 1, 15))
                    ::BIGINT % 258048 AS b1,
             ('0x' || substring(md5(k::VARCHAR), 17, 15))
                    ::BIGINT % 258047 + 1 AS st
           FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem)),
         kpos AS (
           SELECT k, j, (b1 + j.j * st) % 258048 AS p
           FROM kdh CROSS JOIN range(3) j(j)),
         hit AS (
           SELECT kp.k
           FROM kpos kp
           JOIN bits b ON b.w = kp.p // 63
             AND ((b.word >> (kp.p % 63)::INT) & 1) = 1
           GROUP BY kp.k HAVING count(*) = 3),
         pass AS (SELECT count(*) AS bloom_pass_keys FROM hit),
         verified AS (
           SELECT l_returnflag, count(*) AS n_rows,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
               AS DOUBLE), 2) AS sum_qty
           FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                WHERE o_orderpriority = '1-URGENT')
           GROUP BY l_returnflag)
         SELECT v.l_returnflag, v.n_rows, v.sum_qty, p.bloom_pass_keys
         FROM verified v CROSS JOIN pass p
         ORDER BY l_returnflag""",

    "q_asof_join" ->
      """WITH p AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         e AS (
           SELECT user_id, ts, event_id AS err_id FROM events
           WHERE event_type = 'error')
         SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS time_ms,
           e.err_id, epoch_ms(e.ts) AS err_ms
         FROM p ASOF LEFT JOIN e
           ON p.user_id = e.user_id AND p.ts >= e.ts
         ORDER BY p.event_id""",

    // native (c)-tier operator: identical semantics, same oracle
    "q_asof_join_native" ->
      """WITH p AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         e AS (
           SELECT user_id, ts, event_id AS err_id FROM events
           WHERE event_type = 'error')
         SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS time_ms,
           e.err_id, epoch_ms(e.ts) AS err_ms
         FROM p ASOF LEFT JOIN e
           ON p.user_id = e.user_id AND p.ts >= e.ts
         ORDER BY p.event_id""",

    // SQL-surface marker path: identical semantics, same oracle
    "q_asof_join_sql" ->
      """WITH p AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         e AS (
           SELECT user_id, ts, event_id AS err_id FROM events
           WHERE event_type = 'error')
         SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS time_ms,
           e.err_id, epoch_ms(e.ts) AS err_ms
         FROM p ASOF LEFT JOIN e
           ON p.user_id = e.user_id AND p.ts >= e.ts
         ORDER BY p.event_id""",

    // literally the Spark query's text (epoch_ms for unix_millis):
    // DuckDB's native ASOF JOIN grammar and the injected parser
    // accept the same statement
    "q_asof_join_syntax" ->
      """WITH p AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         e AS (
           SELECT user_id, ts, event_id AS err_id FROM events
           WHERE event_type = 'error')
         SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS time_ms,
           e.err_id, epoch_ms(e.ts) AS err_ms
         FROM p ASOF LEFT JOIN e
           ON p.user_id = e.user_id AND p.ts >= e.ts
         ORDER BY p.event_id""",

    // same grid + ASOF fill; DuckDB generates the series natively
    "q_asof_resample" ->
      """WITH bounds AS (
           SELECT user_id, date_trunc('hour', min(CAST(ts AS TIMESTAMP)))
             AS t0, max(CAST(ts AS TIMESTAMP)) AS t1
           FROM events GROUP BY user_id),
         grid AS (
           SELECT user_id,
             unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
           FROM bounds),
         obs AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             value AS obs_value, epoch_ms(ts) AS obs_ms
           FROM events)
         SELECT g.user_id, epoch_ms(g.ts) AS grid_ms, o.obs_value,
           epoch_ms(g.ts) - o.obs_ms AS age_ms
         FROM grid g ASOF LEFT JOIN obs o
           ON g.user_id = o.user_id AND g.ts >= o.ts
         ORDER BY g.user_id, grid_ms""",

    // chunking is invisible to the data: the oracle is the naive
    // overlap join
    "q_interval_join" ->
      """WITH iv AS (
           SELECT event_id, event_type, epoch_ms(ts) AS s_ms,
             epoch_ms(ts) + CAST(floor(value * 100 + 0.5) AS BIGINT) * 10
               AS e_ms
           FROM events),
         a AS (SELECT event_id AS a_id, s_ms AS a_s, e_ms AS a_e
               FROM iv WHERE event_type IN ('view', 'click')),
         b AS (SELECT event_id AS b_id, s_ms AS b_s, e_ms AS b_e
               FROM iv WHERE event_type IN ('error', 'purchase'))
         SELECT a_id, b_id,
           least(a_e, b_e) - greatest(a_s, b_s) AS overlap_ms
         FROM a, b WHERE a_s <= b_e AND b_s <= a_e
         ORDER BY a_id, b_id""",

    "q_range_join" ->
      """SELECT tier, count(*) AS cnt, round(avg(value), 4) AS avg_v
         FROM events
         JOIN (SELECT CAST(range AS INTEGER) AS tier,
                 range * 25.0 AS lo, (range + 1) * 25.0 AS hi
               FROM range(0, 12)) tiers
           ON value >= lo AND value < hi
         GROUP BY tier ORDER BY tier""",

    "q_pivot" ->
      """SELECT user_id,
         count(*) FILTER (WHERE event_type = 'click') AS click,
         count(*) FILTER (WHERE event_type = 'error') AS error,
         count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         count(*) FILTER (WHERE event_type = 'signup') AS signup,
         count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q_salted_agg" ->
      """SELECT user_id,
         round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS sum_v,
         count(*) AS cnt
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q_join_skew_salted" ->
      """SELECT p_brand, count(*) AS n_items,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
             AS DECIMAL(18,6))::DOUBLE, 6) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",

    "q_set_except_all" ->
      """SELECT o_orderstatus AS status FROM orders
         WHERE o_orderkey % 2 = 0
         EXCEPT ALL
         SELECT o_orderstatus AS status FROM orders
         WHERE o_orderkey % 2 = 1
         ORDER BY status""",
  )
}
