package graft

import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

/** As-of join semantics + HLL error gate. */
class JoinExtSpec extends SparkSpec {
  import spark.implicits._

  private def mkTs(s: String) = java.sql.Timestamp.valueOf(s)

  test("asOf attaches the newest right row at or before each left ts") {
    val left = Seq(
      (1L, mkTs("2024-01-01 10:00:00"), "L1"),
      (1L, mkTs("2024-01-01 12:00:00"), "L2"),
      (2L, mkTs("2024-01-01 09:00:00"), "L3") // before any right row
    ).toDF("k", "ts", "ltag")
    val right = Seq(
      (1L, mkTs("2024-01-01 09:30:00"), 100L),
      (1L, mkTs("2024-01-01 11:00:00"), 200L),
      (1L, mkTs("2024-01-01 12:00:00"), 300L), // exactly at L2 → visible
      (2L, mkTs("2024-01-01 10:00:00"), 400L)
    ).toDF("k", "ts", "rid")
    val got = AsOfJoin.asOf(left, right, "k", "ts", Seq("rid"))
      .select($"ltag", $"rid").as[(String, Option[Long])]
      .collect().toMap
    assert(got == Map("L1" -> Some(100L), "L2" -> Some(300L),
      "L3" -> None))
  }

  test("asOf: tied right timestamps attach a deterministic payload (max, as asOfStatic)") {
    val left = Seq((1L, mkTs("2024-01-01 12:00:00"), "L"))
      .toDF("k", "ts", "ltag")
    // two right rows at the SAME (key, ts): without payload in the
    // window sort this was whichever row the physical sort placed
    // last — run-to-run nondeterministic and divergent from
    // asOfStatic's sorted index (rightmost tied entry = max payload)
    val right = Seq(
      (1L, mkTs("2024-01-01 11:00:00"), 100L),
      (1L, mkTs("2024-01-01 11:00:00"), 900L))
      .toDF("k", "ts", "rid")
    (1 to 3).foreach { _ =>
      val got = AsOfJoin.asOf(left, right.repartition(4), "k", "ts",
        Seq("rid")).select($"rid").as[Long].collect().toSeq
      assert(got == Seq(900L), s"tie must resolve to max payload: $got")
    }
  }

  test("asOf: right rows with null key/ts never match (asOfStatic contract)") {
    // a null-ts right row sorts first in the ascending window; its
    // payload must NOT attach to left rows that precede every real
    // right row
    val left = Seq((1L, mkTs("2024-01-01 09:00:00"), "early"))
      .toDF("k", "ts", "ltag")
    val right = Seq(
      (Some(1L), Option.empty[java.sql.Timestamp], 666L),
      (Option.empty[Long], Option(mkTs("2024-01-01 08:00:00")), 777L),
      (Some(1L), Option(mkTs("2024-01-01 10:00:00")), 100L))
      .toDF("k", "ts", "rid")
    val got = AsOfJoin.asOf(left, right, "k", "ts", Seq("rid"))
      .select($"ltag", $"rid").as[(String, Option[Long])]
      .collect().toMap
    assert(got == Map("early" -> None),
      s"null-ts/key right rows leaked a match: $got")
  }

  test("asOf preserves genuinely-null payload fields via struct wrap") {
    val left = Seq((1L, mkTs("2024-01-01 10:00:00"))).toDF("k", "ts")
    val right = Seq((1L, mkTs("2024-01-01 09:00:00"),
      Option.empty[String], 7L)).toDF("k", "ts", "note", "rid")
    val row = AsOfJoin.asOf(left, right, "k", "ts", Seq("note", "rid"))
      .select($"note", $"rid").as[(Option[String], Option[Long])].head()
    assert(row == ((None, Some(7L)))) // matched, with its null field
  }

  test("native as-of merge exec matches the semantics fixture") {
    val left = Seq(
      (1L, mkTs("2024-01-01 10:00:00"), "L1"),
      (1L, mkTs("2024-01-01 12:00:00"), "L2"),
      (2L, mkTs("2024-01-01 09:00:00"), "L3") // before any right row
    ).toDF("k", "ts", "ltag")
    val right = Seq(
      (1L, mkTs("2024-01-01 09:30:00"), 100L),
      (1L, mkTs("2024-01-01 11:00:00"), 200L),
      (1L, mkTs("2024-01-01 12:00:00"), 300L), // exactly at L2 → visible
      (2L, mkTs("2024-01-01 10:00:00"), 400L)
    ).toDF("k", "ts", "rid")
    val got = graft.plans.AsOfJoinNative.asOfMerge(left, right, "k", "ts")
      .select($"ltag", $"rid").as[(String, Option[Long])]
      .collect().toMap
    assert(got == Map("L1" -> Some(100L), "L2" -> Some(300L),
      "L3" -> None))
  }

  test("native as-of rejects mismatched key/ts types at plan build") {
    // the merge orders by the LEFT type — a mismatched right type
    // must fail at construction, not ClassCastException mid-execution
    val left = Seq((1L, mkTs("2024-01-01 10:00:00"))).toDF("k", "ts")
    val rightIntKey = Seq((1, mkTs("2024-01-01 09:00:00"), 7L))
      .toDF("k", "ts", "rid")
    val eKey = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoinNative.asOfMerge(left, rightIntKey, "k", "ts")
    }
    assert(eKey.getMessage.contains("key types must match"))
    val rightLongTs = Seq((1L, 1704103200000L, 7L)).toDF("k", "ts", "rid")
    val eTs = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoinNative.asOfMerge(left, rightLongTs, "k", "ts")
    }
    assert(eTs.getMessage.contains("timestamp types must match"))
  }

  test("native as-of == composition as-of on the events corpus") {
    val ev = Tables(spark, sf("0.01"), "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id".as("err_id"))
    val composed = AsOfJoin.asOf(purchases, errors, "user_id", "ts",
        Seq("err_id"))
      .select($"event_id", $"err_id").as[(Long, Option[Long])]
      .collect().toMap
    val native = graft.plans.AsOfJoinNative
      .asOfMerge(purchases, errors, "user_id", "ts")
      .select($"event_id", $"err_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(native.nonEmpty && native.exists(_._2.isDefined))
    assert(native == composed)
  }

  test("native as-of plans through AsOfMergeJoinExec with per-side sort") {
    val left = Seq((1L, mkTs("2024-01-01 10:00:00"), "x"))
      .toDF("k", "ts", "ltag")
    val right = Seq((1L, mkTs("2024-01-01 09:00:00"), 5L))
      .toDF("k", "ts", "rid")
    val df = graft.plans.AsOfJoinNative.asOfMerge(left, right, "k", "ts")
    val plan = withoutAqe {
      df.queryExecution.executedPlan.toString
    }
    assert(plan.contains("AsOfMergeJoin"),
      s"expected the custom exec in:\n$plan")
    // EnsureRequirements must have inserted the per-side sorts
    assert("Sort".r.findAllIn(plan).size >= 2,
      s"expected per-side sorts in:\n$plan")
  }

  test("as-of column pruning pushes through the custom node to the scan") {
    // without PruneAsOfJoinColumns, the custom binary node is a
    // pruning barrier and both parquet scans read every column;
    // with it, a narrow projection above the as-of reaches ReadSchema
    val ev = Tables(spark, sf("0.01"), "events")
    val leftWide = ev.filter($"event_type" === "purchase")
      .withColumnRenamed("event_id", "l_id") // disambiguate vs right
    val rightWide = ev.filter($"event_type" === "error")
    val narrow = graft.plans.AsOfJoinNative
      .asOfMerge(leftWide, rightWide, "user_id", "ts")
      .select($"l_id")
    val plan = withoutAqe { narrow.queryExecution.executedPlan.toString }
    // events carries value/props — neither may reach any ReadSchema
    val readSchemas = "ReadSchema: [^\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty, s"no scans found:\n$plan")
    assert(readSchemas.forall(s => !s.contains("value") &&
        !s.contains("props")),
      s"unreferenced columns still read:\n${readSchemas.mkString("\n")}")
    // the merge's own inputs must of course survive
    assert(readSchemas.forall(_.contains("user_id")),
      s"key column lost:\n${readSchemas.mkString("\n")}")
    assert(narrow.count() > 0)
  }

  test("as-of left-side filter pushes through the custom node to the scan") {
    // without PushFilterThroughAsOfJoin, a filter above the as-of
    // node joins the FULL left side first; with it, a deterministic
    // left-only conjunct reaches the left parquet scan's
    // PushedFilters, while a right-payload conjunct stays above
    val ev = Tables(spark, sf("0.01"), "events")
    val leftWide = ev.filter($"event_type" === "purchase")
      .withColumnRenamed("event_id", "l_id")
      .withColumnRenamed("value", "l_value")
    val rightWide = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id".as("err_id"))
    val filtered = graft.plans.AsOfJoinNative
      .asOfMerge(leftWide, rightWide, "user_id", "ts")
      .filter($"l_value" > 50.0 && $"err_id".isNotNull)
      .select($"l_id", $"err_id")
    val plan = withoutAqe { filtered.queryExecution.executedPlan.toString }
    assert(plan.contains("AsOfMergeJoin"), s"custom exec missing:\n$plan")
    // the left-only value predicate must reach a scan's PushedFilters
    assert("PushedFilters: [^\n]*GreaterThan\\(value,50.0\\)".r
        .findFirstIn(plan).isDefined,
      s"left-side predicate not pushed to the scan:\n$plan")
    // same rows as filtering the composition's result
    val viaComposition = graft.operators.AsOfJoin
      .asOf(leftWide, rightWide.withColumnRenamed("err_id", "p_err"),
        "user_id", "ts", Seq("p_err"))
      .filter($"l_value" > 50.0 && $"p_err".isNotNull)
      .select($"l_id", $"p_err".as("err_id"))
    // multiset compare (exceptAll both ways): toSet masked a
    // pushdown regression that DUPLICATES rows
    assert(filtered.count() > 0)
    assert(filtered.exceptAll(viaComposition).isEmpty &&
      viaComposition.exceptAll(filtered).isEmpty,
      "pushdown result is not row-for-row identical to composition")
  }

  test("SQL asof_on (resolution-phase rewrite) == API merge") {
    val ev = Tables(spark, sf("0.01"), "events")
    ev.createOrReplaceTempView("jx_asof_events")
    val viaSql = spark.sql("""
      WITH p AS (SELECT event_id, user_id, ts FROM jx_asof_events
                 WHERE event_type = 'purchase'),
        e AS (SELECT user_id, ts AS err_ts, event_id AS err_id
              FROM jx_asof_events WHERE event_type = 'error')
      SELECT p.event_id, e.err_id FROM p LEFT JOIN e
        ON asof_on(p.user_id = e.user_id, p.ts, e.err_ts)""")
    assert(viaSql.queryExecution.executedPlan.toString
      .contains("AsOfMergeJoin"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id".as("err_id"))
    val viaApi = graft.plans.AsOfJoinNative
      .asOfMerge(purchases, errors, "user_id", "ts")
      .select($"event_id", $"err_id")
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
  }

  test("approx_count_distinct stays within 5% of exact") {
    val ord = Tables(spark, sf("0.01"), "orders")
    val cmp = ord.groupBy($"o_orderstatus")
      .agg(approx_count_distinct($"o_custkey", 0.02).as("a"),
        countDistinct($"o_custkey").as("e"))
      .as[(String, Long, Long)].collect()
    cmp.foreach { case (st, a, e) =>
      assert(math.abs(a - e).toDouble / e <= 0.05,
        s"status $st: approx $a vs exact $e")
    }
  }

  test("resample fills a generated grid through the native as-of merge") {
    val df = SparkEntry.queries("q_asof_resample")(spark, sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfMergeJoin"),
      s"resample must run on the native as-of node:\n$plan")
    val rows = df.collect()
    // left outer: every generated grid tick survives the fill
    val gridSize = Tables(spark, sf("0.001"), "events")
      .groupBy($"user_id")
      .agg(date_trunc("hour", min($"ts")).as("t0"), max($"ts").as("t1"))
      .select(explode(sequence($"t0", $"t1", expr("interval 1 hour"))))
      .count()
    assert(rows.length.toLong == gridSize,
      s"grid ticks lost in the fill: ${rows.length} != $gridSize")
    // LOCF sanity: ages are non-negative wherever an observation
    // matched — and something must match, or the forall is vacuous
    // (every user's grid starts AT their first observation's hour)
    assert(rows.exists(r => !r.isNullAt(3)),
      "no grid tick matched any observation — fill inert")
    assert(rows.forall(r => r.isNullAt(3) || r.getLong(3) >= 0L))
  }

  test("interval join: chunk blocking == naive overlap, equi-join plan") {
    val blocked = SparkEntry.queries("q_interval_join")(spark, sf("0.001"))
    withoutAqe {
      val plan = blocked.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"overlap must not nested-loop:\n$plan")
    }
    val got = blocked.collect().map(_.toString).toSeq

    val ev = Tables(spark, sf("0.001"), "events")
    def iv(types: Seq[String], p: String) = ev
      .filter($"event_type".isin(types: _*))
      .select($"event_id".as(s"${p}_id"),
        unix_millis($"ts").as(s"${p}_s"),
        (unix_millis($"ts") +
          floor($"value" * 100 + 0.5).cast("long") * 10).as(s"${p}_e"))
    val naive = iv(Seq("view", "click"), "a")
      .crossJoin(iv(Seq("error", "purchase"), "b"))
      .filter($"a_s" <= $"b_e" && $"b_s" <= $"a_e")
      .select($"a_id", $"b_id",
        (least($"a_e", $"b_e") - greatest($"a_s", $"b_s")).as("overlap_ms"))
      .orderBy($"a_id", $"b_id")
      .collect().map(_.toString).toSeq
    assert(got == naive, "chunked overlap join diverges from naive")
    assert(got.nonEmpty, "no overlaps at sf0.001 — vacuous")
  }

  test("KMV estimate stays within 3 standard errors of exact") {
    val est = SparkEntry.queries("q_agg_distinct_kmv")(spark, sf("0.01"))
      .as[(String, Double)].collect().toMap
    val exact = Tables(spark, sf("0.01"), "orders")
      .groupBy($"o_orderstatus")
      .agg(countDistinct($"o_custkey").as("e"))
      .as[(String, Long)].collect().toMap
    assert(est.keySet == exact.keySet)
    // KMV relative standard error ≈ 1/sqrt(k-2) ≈ 12.7% at k = 64
    exact.foreach { case (st, e) =>
      val rel = math.abs(est(st) - e) / e
      assert(e < 64 || rel <= 3 * 0.127,
        f"status $st: kmv ${est(st)}%.1f vs exact $e (rel $rel%.3f)")
      if (e < 64) assert(est(st) == e.toDouble,
        s"small group must be exact: ${est(st)} vs $e")
    }
  }
}
