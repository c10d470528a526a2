package graft

/** Plan-shape audits: the properties that make these queries scale
  * are asserted, not assumed — filter/column pushdown into the
  * parquet scan, broadcast joins for dims, map-side partial
  * aggregation, TakeOrderedAndProject for top-k, whole-stage codegen
  * in the hot paths, and no shuffle for per-row function families.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution
      .executedPlan.toString

  test("q_scan_project: filter and projection reach the parquet scan") {
    val p = plan("q_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_discount:double"),
      s"column pruning missing:\n$p")
  }

  test("q3: dimension join is broadcast, not shuffled") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("q5: star joins broadcast every dimension") {
    val p = plan("q5_nation_revenue")
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 3,
      s"expected ≥3 broadcast joins in the star:\n$p")
  }

  test("q_pareto_abc: no single-partition window; prefix joins broadcast") {
    val p = plan("q_pareto_abc")
    // the r8 rewrite: cumsum windows must be partitioned by the
    // bucket key — an empty partition spec would single-thread the
    // growing part domain again
    val windows = p.linesIterator.filter(_.contains("Window "))
    windows.foreach { w =>
      // WindowExec prints `Window [exprs], [partition], [order]` —
      // the partition list must carry the bucket key
      assert(w.contains("windowspecdefinition(bkt"),
        s"window not bucket-partitioned:\n$w\n$p")
    }
    // r14: the ≤32-row offsets/edges/tot sides are driver-collected
    // micro-envelopes injected as literals — the part-domain stream
    // must never shuffle-join anything (no join at all is the
    // strongest form of the old "tiny sides ride broadcasts" gate)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a tiny side fell into a shuffled join:\n$p")
  }

  test("q_topk_per_group: rank limit is pruned map-side before the shuffle") {
    // Spark's WindowGroupLimit (the built-in grouped-top-k physical
    // optimization) must fire in Partial mode under the exchange:
    // each map task forwards at most k rows per group instead of its
    // whole partition — the property that makes rank-filter top-k
    // viable at 100 TB. Guard it so a query rewrite can't silently
    // fall back to sorting full groups.
    val p = plan("q_topk_per_group")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
    assert(p.contains("Partial"),
      s"group-limit not applied map-side (Partial):\n$p")
  }

  test("tfidf / recommender top-k windows prune map-side (WindowGroupLimit)") {
    // both per-group top-3 cuts must ride the grouped-top-k physical
    // optimization — a regression to full-group sorting turns a
    // |pairs|-sized window into the job's bottleneck at corpus scale
    Seq("q_text_tfidf", "q_recsys_item_cosine").foreach { name =>
      val p = plan(name)
      assert(p.contains("WindowGroupLimit"),
        s"$name: no WindowGroupLimit:\n$p")
    }
  }

  test("q_ann_ivf: index build is a narrow map; only the probe join shuffles") {
    val p = plan("q_ann_ivf")
    // cell assignment must not introduce a per-vector shuffle or a
    // centroid join: the quantizer is a plan-time literal inside one
    // projection
    assert(p.contains("nearestcellsexpr") || p.contains("NearestCells"),
      s"native quantizer expression missing:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"IVF fell back to a cartesian centroid join:\n$p")
  }

  test("q_sql_correlated: subqueries decorrelate into joins") {
    // EXISTS → semi join, NOT EXISTS → anti join, the correlated
    // scalar count → aggregate + join; none may survive as a per-row
    // re-executed subquery or a cartesian product
    val p = plan("q_sql_correlated")
    assert(p.contains("LeftSemi") || p.contains("ExistenceJoin"),
      s"EXISTS not decorrelated:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not decorrelated:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian blowup:\n$p")
  }

  test("q_sql_lateral: correlated lateral decorrelates, ranked not re-executed") {
    // the per-customer LIMIT 2 subquery must become a ranked join
    // (window over the join), never a per-row re-execution or a
    // cartesian product
    val p = plan("q_sql_lateral")
    assert(!p.contains("CartesianProduct"), s"cartesian blowup:\n$p")
    assert(p.contains("Window") || p.contains("WindowGroupLimit"),
      s"lateral top-k not planned as a ranked join:\n$p")
  }

  test("q_sql_recursive: recursion leg executes as a loop, no cartesian") {
    val p = plan("q_sql_recursive")
    assert(p.contains("UnionLoop") || p.contains("Recursion") ||
      p.contains("CTERelation"), s"no recursion operator found:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian blowup:\n$p")
  }

  test("q1: hash aggregate runs map-side partials") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("partial_"),
      s"no partial aggregation — full rows would cross the shuffle:\n$p")
  }

  test("q_sort_limit: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("flagship latest-per-key avoids the window-sort formulation") {
    val p = plan("tp_pipeline_e2e")
    // max_by specifically — `|| HashAggregate` would be dead (other
    // aggregations in the pipeline always put one in the plan)
    assert(p.contains("max_by"),
      s"latest-per-key should be the max_by aggregate:\n$p")
    assert(!p.contains("row_number"),
      s"latest-per-key should be an aggregate, not a window sort:\n$p")
  }

  test("scalar function families stay inside whole-stage codegen") {
    // ">=1 codegen subtree somewhere" cannot fail for the regression
    // this gate exists for (the scan stage always codegens): instead
    // walk the physical tree and require every ProjectExec — the
    // node carrying the scalar-function expressions — to sit inside
    // a WholeStageCodegenExec subtree (InputAdapter re-opens the
    // non-codegen region below it).
    import org.apache.spark.sql.execution._
    def naked(p: SparkPlan, in: Boolean): Seq[String] = p match {
      case w: WholeStageCodegenExec => w.children.flatMap(naked(_, true))
      case a: InputAdapter => a.children.flatMap(naked(_, false))
      case pr: ProjectExec =>
        (if (in) Nil else Seq(pr.nodeName)) ++
          pr.children.flatMap(naked(_, in))
      case o => o.children.flatMap(naked(_, in))
    }
    for (q <- Seq("q_math_funcs", "q_string_funcs", "tp_cot_transform")) {
      val e = withoutAqe {
        SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan
      }
      val out = naked(e, in = false)
      assert(out.isEmpty,
        s"$q has projections outside codegen (interpreted hot path): $out")
    }
  }

  test("per-row queries have no exchange except the final order") {
    val p = plan("q_text_token_stats")
    // rangepartitioning for the final orderBy, plus (r13) the
    // scale-adaptive docs fanOut — one hashpartitioning(doc_id)
    // exchange that only exists on single-row-group inputs (no-op at
    // scale). Nothing else may shuffle.
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected shuffles:\n$p")
    assert(p.contains("hashpartitioning(doc_id"),
      s"the one extra exchange must be the doc_id fanOut:\n$p")
  }

  test("ANN plans stay equi-join: no cartesian/BNLJ in candidate stages") {
    // multi-probe LSH expands the QUERY side into extra equi-join
    // keys — it must never degrade into a θ-join over buckets; the
    // IVF probe list must broadcast (map-side scoring, index never
    // shuffles)
    val lsh = plan("q_ann_lsh")
    assert(!lsh.contains("CartesianProduct") &&
      !lsh.contains("BroadcastNestedLoopJoin"),
      s"LSH candidate stage fell off the equi-join path:\n$lsh")
    val ivf = plan("q_ann_ivf")
    assert(!ivf.contains("CartesianProduct") &&
      !ivf.contains("BroadcastNestedLoopJoin"),
      s"IVF fell off the equi-join path:\n$ivf")
    assert(ivf.contains("BroadcastHashJoin"),
      s"IVF probe list must broadcast:\n$ivf")
  }

  test("q_text_bm25: stats/query-terms broadcast, top-k pruned map-side") {
    val p = withoutAqe { plan("q_text_bm25") }
    // the query-term list and the one-row corpus stats must both
    // broadcast — scoring is map-side over the tf stream
    // grouping matters: the hash-join requirement must hold
    // UNCONDITIONALLY (the bare `count("Broadcast") >= 2` disjunct
    // was satisfiable by one broadcast node's two substring hits)
    assert(p.sliding("BroadcastHashJoin".length)
        .count(_ == "BroadcastHashJoin") >= 1 &&
      (p.contains("BroadcastNestedLoopJoin") || // one-row gl crossJoin
        p.sliding("BroadcastExchange".length)
          .count(_ == "BroadcastExchange") >= 2),
      s"expected broadcast query terms + stats:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=10 must prune map-side:\n$p")
  }

  test("q_hybrid_rrf: rank legs pre-limit map-side; windows touch <=50 rows") {
    // An earlier formulation filtered rank<=50 over empty-partition
    // windows, trusting WindowGroupLimit to prune map-side — but
    // Spark does NOT infer the prune for empty partitionSpec, so the
    // whole corpus reached one reducer (the round-6 "Moving all data
    // to a single partition" warning was real, not benign). The
    // legs now orderBy+limit(50) first: TakeOrderedAndProject is the
    // map-side partial top-k, and each global rank window touches 50
    // rows by construction (same shape as k-means seeding).
    val p = withoutAqe { plan("q_hybrid_rrf") }
    val hits = p.sliding("TakeOrderedAndProject".length)
      .count(_ == "TakeOrderedAndProject")
    assert(hits >= 2,
      s"expected both rank legs to pre-limit via TakeOrderedAndProject, " +
        s"found $hits:\n$p")
  }

  test("q_text_perplexity / q_text_decontaminate: no cartesian fan-out") {
    Seq("q_text_perplexity", "q_text_decontaminate").foreach { q =>
      val p = withoutAqe { plan(q) }
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
    // decontamination additionally must broadcast the bench side
    val p = withoutAqe { plan("q_text_decontaminate") }
    assert(p.contains("BroadcastHashJoin"),
      s"bench shingles should broadcast:\n$p")
  }

  test("q_dedup_jaccard_pruned: plan build runs no extra driver job") {
    // the df-pruning threshold must be derived IN-PLAN (one-row
    // aggregate broadcast), not by a driver-side count() at query
    // construction — at 100 TB a plan-time count() is an extra full
    // scan per plan build. Baseline is the unpruned query (same
    // table-load footer job); the pruned build must add nothing.
    def jobsDuringBuild(name: String): Int = jobsDuring {
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan // force full planning
    }
    val baseline = jobsDuringBuild("q_dedup_ngram_jaccard")
    val pruned = jobsDuringBuild("q_dedup_jaccard_pruned")
    assert(pruned <= baseline,
      s"pruned build launched $pruned jobs vs $baseline unpruned — " +
        "a plan-time driver action crept back in")
  }

  test("q_sql_window: functions sharing the named window share a Window node") {
    val plan = SparkEntry.queries("q_sql_window")(spark, sf())
      .queryExecution.optimizedPlan.toString
    // rank + lag declare OVER w — both must land in ONE Window
    // operator (the n_type count gets its own: different partition)
    val windows = plan.linesIterator
      .count(_.contains("Window [")) // tree lines print as "+- Window ["
    assert(windows == 2,
      s"expected 2 Window nodes (shared w + count), got $windows:\n$plan")
  }
}
